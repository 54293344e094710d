package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Markup stripping — the text-extraction pass that turns crawl HTML into
  * trainable plain text (the step before canonicalization/dedup in a
  * CommonCrawl-style pipeline; cf. the reference's raw-CSV ingest, which
  * assumes extraction already happened upstream). Steps, in order:
  *
  *   1. drop non-content blocks wholesale: `<script>…</script>`,
  *      `<style>…</style>`, `<!-- comments -->` (their inner text is code,
  *      not language),
  *   2. replace every remaining tag `<…>` with a space (tags are word
  *      boundaries: `a</p><p>b` must not fuse into `ab`),
  *   3. decode the common named entities — `&lt; &gt; &quot; &#39; &nbsp;`
  *      first and `&amp;` LAST, so a literal `&amp;lt;` in the source
  *      decodes once to `&lt;` instead of twice to `<`,
  *   4. collapse whitespace runs + trim.
  *
  * Everything is stock `regexp_replace`/`replace` — a pure codegen'd
  * projection, no UDF, no shuffle; it fuses into the scan. The regexes
  * stick to the syntax Java (Spark) and RE2 (DuckDB oracle) share:
  * `(?s)` dotall, non-greedy `.*?`, explicit classes, no lookarounds.
  *
  * A production extractor adds boilerplate removal by block density
  * (trafilatura-style); that is [[LineDedup]]'s job downstream — this
  * operator's contract is markup → text, not content selection.
  */
object MarkupStrip {

  /** Plain text extracted from an HTML/markup column. */
  def extractText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    // Named-entity decode; &amp; must come last (see scaladoc step 3).
    val decoded = replace(
      replace(
        replace(
          replace(
            replace(
              replace(noTags, lit("&lt;"), lit("<")),
              lit("&gt;"), lit(">")),
            lit("&quot;"), lit("\"")),
          lit("&#39;"), lit("'")),
        lit("&nbsp;"), lit(" ")),
      lit("&amp;"), lit("&"))
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** (doc_id, extracted, n_markup_chars, n_text_chars) over `text`;
    * null rows pass through with null output (caller's null policy). */
  def stripMarkup(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      extractText(col("text")).as("extracted"),
      length(col("text")).cast("long").as("n_markup_chars"),
      length(extractText(col("text"))).cast("long").as("n_text_chars"))
}
