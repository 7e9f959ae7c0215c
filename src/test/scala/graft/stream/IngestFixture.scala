package graft.stream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An IngestBench-shaped multimodal corpus for the membrane specs.
  * Per group of five ids: v0 is a base doc, v1 its exact text dup, v2 a
  * near text dup, v3 unique text but v0's embedding, v4 unique text and
  * embedding carrying a media payload whose perceptual hash is one of 8
  * values at pairwise Hamming distance 2. So v0 of every group plus the
  * first v4 are kept, every later v4 is a media rejection, and the
  * composed ledger rolls up to one size-4 cluster per group plus one
  * media cluster. `malformedEvery` > 0 gives the v3 doc of every such
  * group an embedding the probes drop (alternately wrong-dim and null),
  * so the embedding stage rejects it as `malformed`. */
object IngestFixture {
  val Dim = 16

  private def toks(seed: Long, key: Column, n: Int, salt: String): Column =
    concat_ws(" ", transform(sequence(lit(0), lit(n - 1)),
      i => substring(md5(concat(lit(s"$seed|"), key, lit(s"|$salt|"), i.cast("string"))), 1, 4)))

  def emb(seed: Long, key: Column): Column =
    transform(sequence(lit(0), lit(Dim - 1)), i =>
      ((conv(substring(md5(concat(lit(s"$seed|"), key, lit("|e|"), i.cast("string"))), 1, 4),
        16, 10).cast("double") - 32768.0) / 32768.0).cast("float"))

  def docs(spark: SparkSession, seed: Long, lo: Long, hi: Long,
      malformedEvery: Int = 0): DataFrame = {
    val g = (col("doc_id") / 5).cast("long").cast("string")
    val v = pmod(col("doc_id"), lit(5))
    val d = spark.range(lo, hi).toDF("doc_id")
      .withColumn("text",
        when(v === 0 || v === 1, toks(seed, g, 30, "base"))
          .when(v === 2, concat(toks(seed, g, 30, "base"), lit(" "), toks(seed, g, 4, "tail")))
          .otherwise(toks(seed, concat(g, v.cast("string")), 30, "uniq")))
      .withColumn("embedding",
        when(v === 0 || v === 3, emb(seed, g))
          .otherwise(emb(seed, concat(g, lit("#"), col("doc_id").cast("string")))))
      .withColumn("media", expr(
        "CASE WHEN pmod(doc_id, 5) = 4 THEN concat(" +
          "repeat('a', cast(pmod(doc_id div 5, 8) as int) * 10), repeat('z', 10), " +
          "repeat('a', (31 - cast(pmod(doc_id div 5, 8) as int)) * 10)) " +
          "ELSE 'x' END"))
    if (malformedEvery <= 0) d
    else {
      val grp = (col("doc_id") / 5).cast("long")
      val hit = v === 3 && pmod(grp, lit(malformedEvery)) === 0
      d.withColumn("embedding",
        when(hit && pmod(grp, lit(2 * malformedEvery)) === 0,
          slice(col("embedding"), 1, Dim - 1))
          .when(hit, lit(null).cast("array<float>"))
          .otherwise(col("embedding")))
    }
  }

  /** Pin the 8-cell quantizer a [[MultimodalIngest]] store under `dir`
    * probes. */
  def init(spark: SparkSession, seed: Long, dir: String): Unit =
    MultimodalIngest.init(spark, dir, spark.range(8).toDF("cid")
      .withColumn("ce", emb(seed, concat(lit("cent"), col("cid").cast("string"))))
      .withColumn("cn", sqrt(graft.functions.GraftFunctions.vec_dot(col("ce"), col("ce")))))
}
