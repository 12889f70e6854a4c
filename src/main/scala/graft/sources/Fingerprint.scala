package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** One memo-key digest for the JVM-lifetime caches that key on a file
  * listing (`ParquetSource`'s schema memo, `EventLog`'s cached
  * views, `Par.inputBytes`, `LshBuckets.corpusSize`), and one
  * bounded table for them. A 32-bit `hashCode` of a path list can
  * collide, and a collision would silently serve another relation's
  * cached answer; an md5 over the parts cannot in practice. */
object Fingerprint {

  /** `<count>:<md5 hex>` over `parts`, each followed by a NUL (a byte
    * no path or setting value carries, so part boundaries cannot
    * shift). Order matters: sort the parts first when they come from
    * an unordered listing. */
  def of(parts: Iterable[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    var n = 0
    parts.foreach { p =>
      md.update(p.getBytes(UTF_8))
      md.update(0.toByte)
      n += 1
    }
    s"$n:" + md.digest().map("%02x".format(_)).mkString
  }

  private val MaxEntries = 256

  /** A JVM-lifetime memo table keyed by fingerprints: at most
    * [[MaxEntries]] entries, the least recently used evicted first and
    * handed to `onEvict`. Callers synchronize on it. */
  def memo[V](onEvict: V => Unit = (_: V) => ()): java.util.Map[String, V] =
    new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
        size() > MaxEntries && { onEvict(e.getValue); true }
    }
}
