package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Build-once-per-key memo — the one copy of the "build once per key per
  * JVM" latch behind the corpus tier's trained models, fixture offsets
  * and stored assets.
  *
  * Contract (MemoSpec):
  *  - exactly one caller builds a given key; other callers of that key
  *    wait on the key's latch and receive the same value;
  *  - different keys build concurrently — each key has its own latch, and
  *    no lock is held across keys while a build runs;
  *  - a failed build stores nothing: the exception reaches its caller and
  *    the next caller of that key builds again;
  *  - [[clear]] empties only this instance (a staleness reset: the next
  *    caller of every key rebuilds). [[builds]] counts this instance's
  *    successful builds and survives [[clear]].
  */
final class Memo[V] {
  private final class Slot { @volatile var value: Option[V] = None }
  private val slots = new ConcurrentHashMap[String, Slot]
  private val built = new AtomicInteger(0)

  /** The value stored for `key`, building it with `build` if absent. */
  def apply(key: String)(build: => V): V = {
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    slot.value.getOrElse(slot.synchronized {
      slot.value.getOrElse {
        val v = build
        slot.value = Some(v)
        built.incrementAndGet()
        v
      }
    })
  }

  /** Successful builds since this instance was created. */
  def builds: Int = built.get()

  def clear(): Unit = slots.clear()
}
