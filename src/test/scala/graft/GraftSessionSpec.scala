package graft

import org.apache.spark.sql.functions._

class GraftSessionSpec extends SparkSpec {

  test("getOrCreate registers graft_dot even on a pre-existing session") {
    // The shared test session was built WITHOUT the extensions conf —
    // the factory must still make the native expression callable.
    val s = GraftSession.getOrCreate()
    import s.implicits._
    val v = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .select(call_function("graft_dot", col("a"), col("b")))
      .as[Double].collect()(0)
    v shouldBe 11.0
  }

  test("builder pins UTC and AQE on the session it yields") {
    // getOrCreate applies the builder's options to the (shared) session.
    val s = GraftSession.getOrCreate()
    s.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    s.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    // static per-JVM conf — applied when the first session is built
    // (round 21: the 100-entry default thrashes on a 200-query library)
    s.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe
      GraftSession.CodegenCacheMaxEntries.toString
    // set once here, so Tables.events never writes the session conf
    s.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
  }

  test("withS3aProfile pins the magic committer and pool settings; never credentials") {
    // No object store in this sandbox — the contract under test is that
    // the profile lands the documented conf set on the builder (the
    // dataflow it configures is what the local-path suites run e2e).
    val opts = extractOptions(GraftSession.withS3aProfile(
      org.apache.spark.sql.SparkSession.builder()))
    opts("spark.hadoop.fs.s3a.committer.name") shouldBe "magic"
    opts("spark.hadoop.fs.s3a.committer.magic.enabled") shouldBe "true"
    // boundaries pinned as ABSENCES (review r19c): the spark-hadoop-cloud
    // protocol classes are an optional module (setting them without it
    // fails every write) and PathOutputCommitProtocol rejects the
    // warehouse upsert's dynamicPartitionOverwrite; staging conflict-mode
    // is dead config under the magic committer; fast.upload is a no-op
    // since Hadoop 3 — none may creep back in silently.
    opts.keySet should not contain "spark.sql.sources.commitProtocolClass"
    opts.keySet should not contain "spark.sql.parquet.output.committer.class"
    opts.keySet should not contain "spark.hadoop.fs.s3a.committer.staging.conflict-mode"
    opts.keySet should not contain "spark.hadoop.fs.s3a.fast.upload"
    opts.keys.filter(_.contains("s3a")).foreach { k =>
      withClue(s"credential-shaped key $k must not be set by the profile: ") {
        (k should not).include("access.key")
        (k should not).include("secret.key")
        (k should not).include("session.token")
      }
    }
  }

  private def extractOptions(b: org.apache.spark.sql.SparkSession.Builder): Map[String, String] = {
    // Builder#options is private; read it reflectively — the spec's job
    // is asserting WHAT the profile sets, not how Spark stores it.
    // Match the field by NAME first (ADVICE r19: a blind first-HashMap
    // type scan would silently assert against the wrong map if a future
    // Spark adds another HashMap field ahead of `options`); the type
    // scan survives only as a fallback for a renamed-but-unique field,
    // and anything ambiguous fails the spec rather than passing on a
    // guess.
    val fields = Iterator.iterate[Class[_]](b.getClass)(_.getSuperclass)
      .takeWhile(_ != null)
      .flatMap(_.getDeclaredFields)
      .filter(f => classOf[scala.collection.mutable.HashMap[_, _]].isAssignableFrom(f.getType))
      .toSeq
    val f = fields.find(_.getName.stripSuffix("$1").endsWith("options"))
      .orElse(if (fields.size == 1) fields.headOption else None)
      .getOrElse(fail(
        s"SparkSession.Builder holds no unambiguous options HashMap " +
          s"(candidates: ${fields.map(_.getName).mkString(", ")})"))
    f.setAccessible(true)
    f.get(b).asInstanceOf[scala.collection.mutable.HashMap[String, String]].toMap
  }

  test("snapshot-free suppression denies ONLY the localCheckpoint caveat (ADVICE r15)") {
    GraftSession.silenceSnapshotFreeWarning()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val name = "org.apache.spark.rdd.MapPartitionsRDD"
    val lc = ctx.getConfiguration.getLoggerConfig(name)
    // a DEDICATED config exists for the class (not the root fallback),
    // stays additive, and its filter is message-scoped, not a level cut
    lc.getName shouldBe name
    lc.isAdditive shouldBe true
    val filter = lc.getFilter
    filter should not be null
    def eventWith(msg: String) =
      org.apache.logging.log4j.core.impl.Log4jLogEvent.newBuilder()
        .setLoggerName(name)
        .setLevel(org.apache.logging.log4j.Level.WARN)
        .setMessage(new org.apache.logging.log4j.message.SimpleMessage(msg))
        .build()
    filter.filter(eventWith(
      "RDD 42 was locally checkpointed, its lineage has been truncated " +
        "and it can no longer be recomputed after unpersisting")) shouldBe
      org.apache.logging.log4j.core.Filter.Result.DENY
    // any OTHER warning from the same class passes through untouched
    filter.filter(eventWith(
      "Some unrelated warning about this RDD")) shouldBe
      org.apache.logging.log4j.core.Filter.Result.NEUTRAL
  }
}
