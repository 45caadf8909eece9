package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function

/** Registration + Column-API surface for graft's native Catalyst
  * expressions. Registration is per-session and idempotent; after
  * `register(spark)` the functions are callable from SQL
  * (`SELECT cosine_sim(a, b)`) and via the helpers here.
  */
object GraftFunctions {

  val CosineSimName = "cosine_sim"
  val HashEmbedName = "hash_embed"
  val ChunkGenName = "chunk_gen"
  val CharHistName = "char_hist"
  val WinnowHashName = "winnow_hash"
  val NfcNormalizeName = "nfc_normalize"
  val JaroWinklerName = "jaro_winkler"
  val TermBucketName = "term_bucket"

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    // a name that already resolves (an earlier call on this session, or
    // GraftExtensions' injection of the same builder) is left alone:
    // replacing it only logs a "replaced a previously registered
    // function" WARN per name per call
    def define(name: String, builder: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    define(TermBucketName, {
      case Seq(term,
          lit: org.apache.spark.sql.catalyst.expressions.Literal)
          if lit.value != null && (lit.dataType match {
            case _: org.apache.spark.sql.types.ByteType |
                 _: org.apache.spark.sql.types.ShortType |
                 _: org.apache.spark.sql.types.IntegerType |
                 _: org.apache.spark.sql.types.LongType => true
            case _ => false
          }) =>
        TermBucket(term, lit.value.asInstanceOf[Number].intValue())
      case other => throw new IllegalArgumentException(
        s"term_bucket takes (term, n-literal), got ${other.map(_.sql)}")
    })
    define(NfcNormalizeName, exprs => NfcNormalize(exprs.head))
    define(JaroWinklerName, exprs => JaroWinkler(exprs(0), exprs(1)))
    define(CosineSimName, exprs => CosineSimilarity(exprs(0), exprs(1)))
    define(HashEmbedName, exprs => HashEmbed(exprs.head))
    define(CharHistName, exprs => CharHist(exprs.head))
    define(WinnowHashName, exprs => WinnowHash(exprs.head))
    define(ChunkGenName, {
      case Seq(text) => ChunkGen(text)
      case Seq(text, size) =>
        // require a compile-time constant; eval() on an arbitrary
        // unresolved expression would throw an opaque NPE at analysis
        size match {
          case lit: org.apache.spark.sql.catalyst.expressions.Literal
              if lit.value != null && (lit.dataType match {
                case _: org.apache.spark.sql.types.ByteType |
                     _: org.apache.spark.sql.types.ShortType |
                     _: org.apache.spark.sql.types.IntegerType |
                     _: org.apache.spark.sql.types.LongType => true
                case _ => false
              }) =>
            ChunkGen(text, lit.value.asInstanceOf[Number].intValue())
          case other => throw new IllegalArgumentException(
            s"chunk_gen size must be an integer literal, got ${other.sql}")
        }
      case other => throw new IllegalArgumentException(
        s"chunk_gen takes (text[, size]), got ${other.length} args")
    })
  }

  /** Fused single-pass cosine similarity (see CosineSimilarity). The
    * session must have called `register` first.
    */
  def cosineSim(a: Column, b: Column): Column = call_function(CosineSimName, a, b)

  /** Fused [a-z0-9] character histogram (see CharHist). The session must
    * have called `register` first.
    */
  def charHist(text: Column): Column = call_function(CharHistName, text)

  /** Winnowing k-gram fingerprints (see WinnowHash). The session must
    * have called `register` first.
    */
  def winnowHash(text: Column): Column = call_function(WinnowHashName, text)

  /** Jaro-Winkler fuzzy-match similarity (see JaroWinkler). The session
    * must have called `register` first.
    */
  def jaroWinkler(a: Column, b: Column): Column =
    call_function(JaroWinklerName, a, b)

  /** Posting-bucket of a term (see TermBucket). The session must have
    * called `register` first.
    */
  def termBucket(term: Column, n: Int): Column =
    call_function(TermBucketName, term, org.apache.spark.sql.functions.lit(n))
}
