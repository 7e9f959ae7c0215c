package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental cost probe for the curation pass-1 expression suite
  * (round-17 tooling, guide §1: measure before touching per-row
  * expressions). Times a noop-style full evaluation of the documents
  * scan with each signal column added cumulatively, min of 3 reps, so
  * the marginal cost of every expression is visible in isolation.
  * `sbt "runMain graft.Bench expr"` */
object ExprProbe {
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val docs = Tables.spread(Tables.documents(spark, Bench.sfDir())).localCheckpoint()

    def time(name: String)(df: => DataFrame): Unit = {
      val mk = df
      val ms = Bench.timeReps(name, 3)(Bench.execute(mk)).map(_._2 * 1e3)
      println(f"[expr] $name%-28s min ${Bench.num(ms.min, 1)}%8s ms  reps ${ms.map(Bench.num(_, 0)).mkString(",")}")
    }

    val base = docs.select(col("doc_id"), col("text"))
    time("scan")(base)
    time("+toks")(base
      .withColumn("toks", filter(split(lower(col("text")), " "), t => length(t) > 0)))
    def withToks = base
      .withColumn("toks", filter(split(lower(col("text")), " "), t => length(t) > 0))
      .withColumn("n_tok", size(col("toks")).cast("long"))
    time("+n_dup(array_distinct)")(withToks
      .withColumn("n_dup", col("n_tok") - size(array_distinct(col("toks"))).cast("long")))
    def withBg = withToks.withColumn("bg", expr(
      "IF(n_tok < 2, array(), " +
        "transform(sequence(0, cast(n_tok as int) - 2), i -> concat(toks[i], ' ', toks[i + 1])))"))
    time("+bg transform")(withBg)
    time("+top_bg_pct(sort+agg)")(withBg.withColumn("top_bg_pct", expr(
      "IF(n_tok < 2, 0L, aggregate(array_sort(bg), named_struct('prev', '', 'run', 0L, 'best', 0L), " +
        "(acc, x) -> named_struct('prev', x, " +
        "'run', IF(x = acc.prev, acc.run + 1L, 1L), " +
        "'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1L, 1L))), " +
        "acc -> acc.best) * 100 div (n_tok - 1))")))
    time("+content_key(md5)")(base.withColumn("ck", md5(col("text").cast("binary"))))
    time("+band_keys(native)")(base
      .withColumn("bands", graft.functions.GraftFunctions.band_keys(col("text"))))
    time("+span_fps16(native)")(base
      .withColumn("fps", graft.functions.GraftFunctions.span_fps(col("text"), 32, 16)))
    time("+span_fps1(native,eval)")(base
      .withColumn("fps", graft.functions.GraftFunctions.span_fps(col("text"), 32, 1)))
    time("+minhash_sigs(native)")(base
      .withColumn("mh", graft.functions.GraftFunctions.minhash_sigs(col("text"))))
  }
}
