package graft.streaming

/** A fixed pool of 64 monitors striped by key hash: serializes
  * in-process work per key without a per-key map, so a long-lived JVM
  * that sees unboundedly many keys holds a bounded pool, and a hash
  * collision merely over-serializes two unrelated keys. Each use gets
  * its own instance — separate pools keep a long critical section of
  * one kind from stalling a short one of another. */
private[streaming] final class Stripes {
  private val monitors = Array.fill(64)(new Object)

  /** The stripe index of `key`: a caller holding two stripes at once
    * takes them in ascending index order, so two such callers can
    * never deadlock. */
  def index(key: String): Int = math.floorMod(key.hashCode, monitors.length)

  def at(i: Int): Object = monitors(i)

  def apply(key: String): Object = monitors(index(key))
}
