package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.GraftFunctions
import graft.functions.VectorOps

class CosineExpressionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("fused expression is bit-identical to the HOF kernel over the corpus") {
    GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
    val both = emb.crossJoin(broadcast(q))
      .select($"vec_id",
        VectorOps.cosine($"embedding", $"q_emb").as("hof"),
        GraftFunctions.cosineSim($"embedding", $"q_emb").as("fused"))
      .collect()
    assert(both.length === 500)
    both.foreach { r =>
      // bit-identical: same double additions in the same order
      assert(java.lang.Double.doubleToLongBits(r.getAs[Double]("hof")) ===
        java.lang.Double.doubleToLongBits(r.getAs[Double]("fused")),
        s"mismatch at vec ${r.getLong(0)}")
    }
  }

  test("fused expression: zero-magnitude guard and SQL registration") {
    GraftFunctions.register(spark)
    val df = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    df.createOrReplaceTempView("cos_test")
    val viaSql = spark.sql("SELECT cosine_sim(a, b) AS s FROM cos_test").head().getDouble(0)
    assert(viaSql === 0.0)
  }

  test("fused expression: dimension mismatch throws") {
    GraftFunctions.register(spark)
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val ex = intercept[Exception] {
      df.select(GraftFunctions.cosineSim($"a", $"b")).collect()
    }
    assert(ex.getMessage.contains("dimension mismatch") ||
      ex.getCause != null && ex.getCause.getMessage.contains("dimension mismatch"))
  }

  test("driver kernel + Round ≡ Spark's round(cosine_sim(a, b), 6): float and double, both orders, zero vector") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import graft.expressions.CosineSimilarity
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(20261018L)
    val dim = 64
    val fs = Seq.fill(48)(Array.fill(dim)(rnd.nextGaussian().toFloat)) :+ Array.fill(dim)(0.0f)
    val ds = Seq.fill(48)(Array.fill(dim)(rnd.nextGaussian())) :+ Array.fill(dim)(0.0)
    val n = fs.length
    // each row pairs vectors of both element types; the shifted columns
    // meet the zero vector against non-zero ones too
    val rows = (0 until n).map(i => (i, fs(i).toSeq, ds(i).toSeq,
      fs((i + 1) % n).toSeq, ds((i + 7) % n).toSeq))
    val df = rows.toDF("i", "f", "d", "f2", "d2")
    def sims(a: String, b: String) = round(GraftFunctions.cosineSim(col(a), col(b)), 6)
    val pairs = Seq("f" -> "d", "d" -> "f", "f" -> "f2", "f2" -> "f", "d" -> "d2", "d2" -> "d")
    val got = df.orderBy($"i").select($"i" +: pairs.map { case (a, b) => sims(a, b) }: _*).collect()
    def vec(name: String, i: Int): (ArrayData, Boolean) = name match {
      case "f"  => (ArrayData.toArrayData(fs(i)), true)
      case "f2" => (ArrayData.toArrayData(fs((i + 1) % n)), true)
      case "d"  => (ArrayData.toArrayData(ds(i)), false)
      case "d2" => (ArrayData.toArrayData(ds((i + 7) % n)), false)
    }
    assert(got.length === n)
    got.foreach { r =>
      val i = r.getInt(0)
      pairs.zipWithIndex.foreach { case ((a, b), j) =>
        val (x, xf) = vec(a, i)
        val (y, yf) = vec(b, i)
        val driver = CosineSimilarity.roundedCosine(x, xf, y, yf)
        assert(driver == r.getDouble(j + 1), s"row $i, cosine_sim($a, $b)")
      }
    }
    assert(got.exists(r => (1 to pairs.length).exists(j => r.getDouble(j) == 0.0)),
      "the zero vector never met the kernel")
  }
}
