package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{conv, md5, substring}

/** Cross-engine-exact row digests.
  *
  * [[digest60]] is the ONE definition of the 60-bit md5 digest every
  * fingerprint/sketch/draw in the engine uses (table_fingerprint,
  * table_diff, kmv_distinct, kmv_set_ops, dp_counts, the streaming
  * fingerprint fold). The DuckDB twin is
  * `('0x' || substr(md5(x), 1, 15))::BIGINT` — the two MUST stay
  * bit-identical or the oracles' replays desynchronize; changing the
  * width or hash here is the only sanctioned place to do it.
  *
  * 15 hex chars = 60 bits: fits a signed 64-bit long with headroom for
  * modular sums, and md5 is the one hash both engines spell identically
  * (Spark's hash()/xxhash64 are murmur/xx — engine-specific seeds).
  */
object Digests {

  def digest60(canon: Column): Column =
    conv(substring(md5(canon), 1, 15), 16, 10).cast("long")

  /** [[digest60]] of one canonical string, computed on the driver: the
    * first 15 hex digits of its UTF-8 md5, read as a number.
    */
  def digest60Of(canon: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(md.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** The digest modulus for order-independent fingerprint sums: 2^61 − 1
    * (prime, so residues spread; sums accumulate in DECIMAL(38,0) first).
    */
  val FingerprintMod = 2305843009213693951L

  /** The (n_rows, fp) fingerprint of `canons` computed on the driver —
    * the twin of `Streaming.fingerprintStream`: the row count and the
    * [[digest60]] sum mod [[FingerprintMod]].
    */
  def fingerprintOf(canons: Seq[String]): (Long, Long) =
    (canons.length.toLong, canons.foldLeft(0L)((fp, c) => (fp + digest60Of(c)) % FingerprintMod))
}
