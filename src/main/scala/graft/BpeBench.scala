package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** BPE trainer cost at production VOCABULARY sizes — the corpus rungs
  * can't measure this (ScaleGen replicas repeat the same words, so the
  * vocab never grows; qt18's corpus exponent is 0.006), so this bench
  * synthesizes vocabularies directly: `n` distinct 8-hex-char words
  * (md5-derived — inside the trainer's `[a-z0-9]` charset), one doc
  * each, and times BOTH trainers' 12 rounds:
  *   - `ref`  — [[graft.batch.TextOps.bpeTrain]], the oracle-exact
  *     reference loop whose every round recounts all adjacent pairs
  *     over the vocabulary (O(rounds × vocab));
  *   - `fast` — [[graft.batch.TextOps.bpeTrainFast]], the production
  *     trainer with incremental pair-count maintenance (round cost
  *     ∝ words containing the merged pair).
  * A `deep` block then runs the fast trainer for
  * `SPARK_GRAFT_BPE_DEEP` merges (default 2000) on the LARGEST rung —
  * the number that prices a real 32k-merge tokenizer run, which the
  * reference loop cannot reach (its 500k-vocab round was measured at
  * 5.15 s — days at 32k merges). One JSON line per the Bench
  * contract. */
object BpeBench {
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val sizes = sys.env.getOrElse("SPARK_GRAFT_BPE_VOCABS", "10000,100000,500000")
      .split(",").map(_.trim.toInt).toSeq
    val deepMerges = sys.env.getOrElse("SPARK_GRAFT_BPE_DEEP", "2000").toInt
    val rows = sizes.map { n =>
      // one row per distinct word; substring of md5 keeps words 8 chars
      // (hex → the clean charset) and collisions only shrink the vocab
      // marginally at these sizes
      val docs = spark.range(n.toLong)
        .select(substring(md5(col("id").cast("string")), 1, 8).as("text"))
        .localCheckpoint()
      val (refSecs, (refMerges, nVocab)) = Bench.timed {
        val (merges, vocab) = graft.batch.TextOps.bpeTrain(docs, 12)
        (merges, vocab.count())
      }
      val (fastSecs, (fastMerges, _)) = Bench.timed(graft.batch.TextOps.bpeTrainFast(docs, 12))
      require(fastMerges == refMerges,
        s"fast/ref merge sequences diverged at vocab $n") // the bench IS an equivalence run
      s""""v$n":{"n_vocab":$nVocab,"merges":${refMerges.length},""" +
        s""""ref_secs":${Bench.num(refSecs)},"ref_secs_per_round":${Bench.num(refSecs / 12)},""" +
        s""""fast_secs":${Bench.num(fastSecs)},"fast_secs_per_round":${Bench.num(fastSecs / 12, 4)}}"""
    }
    // the production shape: deep merge schedule, fast trainer only
    val deepN = sizes.max
    val deepDocs = spark.range(deepN.toLong)
      .select(substring(md5(col("id").cast("string")), 1, 8).as("text"))
      .localCheckpoint()
    val (deepSecs, (deepM, _)) = Bench.timed(graft.batch.TextOps.bpeTrainFast(deepDocs, deepMerges))
    val deep = s""""deep":{"n_vocab":$deepN,"merges":${deepM.length},""" +
      s""""fast_secs":${Bench.num(deepSecs)},"fast_secs_per_round":${Bench.num(deepSecs / math.max(1, deepM.length), 4)}}"""
    // the APPLY side at the same depth (round-15 verdict #1): replay
    // the deep model over the full word set with the one-expression
    // encoder — the throughput a tokenization pass pays per word. The
    // chained reference form cannot run here (deepMerges plan nodes).
    val deepWords = deepDocs.select(col("text").as("w")).localCheckpoint()
    val nWords = deepWords.count()
    val (applySecs, nSyms) = Bench.timed(graft.batch.TextOps
      .bpeApply(deepWords, deepM.map(m => (m._1, m._2, m._3)))
      .select(sum(size(col("syms")))).head().getLong(0))
    val apply = s""""apply":{"n_words":$nWords,"merges":${deepM.length},""" +
      s""""n_syms":$nSyms,"secs":${Bench.num(applySecs)},""" +
      s""""words_per_sec":${Bench.num(nWords / math.max(1e-9, applySecs))}}"""
    println(s"""{"metric":"bpe_train_vocab_secs","value":${sizes.max},""" +
      s""""unit":"words","rungs":{${(rows :+ deep :+ apply).mkString(",")}}}""")
  }
}
