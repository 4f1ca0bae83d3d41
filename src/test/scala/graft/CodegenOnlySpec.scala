package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mechanical pin that every graft custom expression really generates
  * compilable code: evaluate them all under
  * spark.sql.codegen.factoryMode=CODEGEN_ONLY (expression codegen must
  * succeed — no interpreted fallback) with whole-stage fallback off. A
  * doGenCode regression that silently fell back to interpreted eval
  * would pass the parity specs but fail here. */
class CodegenOnlySpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("the full expression family evaluates under CODEGEN_ONLY") {
    val conf = spark.conf
    val prevFactory = conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq(
        ("the cat sat on the mat!", Array(1.0f, 2.0f, 3.0f), Seq("a", "b"),
          Seq("a", "b", "c"), Map("k" -> "v"), Map("k" -> "v", "x" -> "y")))
        .toDF("text", "vec", "sub", "sup", "path", "row")
      val toks = split(col("text"), "\\s+")
      val r = df.select(
        graft.functions.ShingleHash.shingleHashes(toks, 2).as("sh"),
        graft.functions.SimHash.simhash64(toks).as("simhash"),
        graft.functions.CountInSet.countInSet(toks, Seq("the")).as("stop"),
        graft.functions.PunctCount.punctCount(col("text")).as("punct"),
        graft.functions.RollingHash.rollingHash(col("text")).as("roll"),
        graft.functions.CharNgrams.charNgrams(col("text"), 3).as("ngrams"),
        graft.functions.VectorOps.dot(col("vec"), col("vec")).as("dot"),
        graft.functions.ArraySubset.subsetOf(col("sub"), col("sup")).as("subset"),
        graft.functions.MapMatches.matchesAll(col("path"), col("row")).as("pathm"))
        .withColumn("sig", graft.functions.MinHash.signature(col("sh"), 16))
        .withColumn("jac", graft.functions.Jaccard.sim(col("sh"), col("sh")))
        .head()
      assert(r.getAs[scala.collection.Seq[Long]]("sh").nonEmpty)
      assert(r.getAs[Int]("stop") == 2 && r.getAs[Int]("punct") == 1)
      assert(r.getAs[scala.collection.Seq[Long]]("sig").length == 16)
      assert(r.getAs[Double]("jac") == 1.0)
      assert(r.getAs[Boolean]("subset") && r.getAs[Boolean]("pathm"))
      assert(r.getAs[Double]("dot") == 14.0)
    } finally {
      prevFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(
        conf.set("spark.sql.codegen.factoryMode", _))
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(
        conf.set("spark.sql.codegen.fallback", _))
    }
  }
}
