package graft.stream

import java.nio.file.Files

import graft.SparkSpec

/** Crash- and degenerate-input coverage for the epoch-fold protocol
  * itself (the ingest-facing behavior lives in IngestDedupSpec /
  * EmbedIngestSpec).
  */
class EpochFoldSpec extends SparkSpec {
  import spark.implicits._

  private val MB128 = 128L * 1024 * 1024

  private def mkEmptyEpoch(root: String, e: Long): Unit = {
    val d = new java.io.File(s"$root/epoch=$e")
    assert(d.mkdirs())
    assert(new java.io.File(d, "_SUCCESS").createNewFile())
  }

  private def writeEpoch(root: String, e: Long, keys: Seq[String]): Unit =
    keys.toDF("content_key").write.parquet(s"$root/epoch=$e")

  private def allKeys(root: String): Seq[String] =
    spark.read.parquet(root).select("content_key").as[String].collect().sorted.toSeq

  test("data files under hidden directories are not data, as for Spark's file index") {
    // a crash can leave a store whose only data files sit in a fold
    // snapshot (.compact_tmp_N/) or an install's temporary
    // (.epoch=N.tmp/); Spark reads neither, so gating such a store as
    // "has data" made every replay's read die on UNABLE_TO_INFER_SCHEMA
    val root = Files.createTempDirectory("graft_fold_hidden").toString + "/idx"
    writeEpoch(root, 0, Seq("a"))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/epoch=0"),
      new org.apache.hadoop.fs.Path(s"$root/.epoch=0.tmp")))
    writeEpoch(s"$root/.compact_tmp_3", 1, Seq("b"))
    mkEmptyEpoch(root, 2)
    assert(!EpochFold.hasDataFiles(spark, root))
    assert(intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(root))
      .getMessage.contains("UNABLE_TO_INFER_SCHEMA"))
    // the text membrane probes such a store as empty and admits
    val text = Files.createTempDirectory("graft_fold_hidden_text").toString
    writeEpoch(s"$text/exact_idx", 0, Seq("c"))
    assert(new java.io.File(s"$text/exact_idx/epoch=0")
      .renameTo(new java.io.File(s"$text/exact_idx/.epoch=0.tmp")))
    IngestDedup.ingestBatch(Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      text, epochId = 0)
    assert(spark.read.parquet(s"$text/corpus").count() == 1)
    // a visible data file, also under a `_`-led partition directory, is data
    writeEpoch(s"$root/__shift=x", 3, Seq("d"))
    assert(EpochFold.firstDataFile(spark.sparkContext.hadoopConfiguration, root)
      .exists(_.getPath.toString.contains("/__shift=x/epoch=3/part-")))
  }

  test("fold over metadata-only epoch dirs deletes them instead of crashing") {
    // an idle stream writes epoch dirs holding only _SUCCESS; the fold
    // runs at the START of a micro-batch, so throwing here crashloops
    // the streaming query on every replay
    val root = Files.createTempDirectory("graft_fold_empty").toString + "/idx"
    mkEmptyEpoch(root, 0); mkEmptyEpoch(root, 1); mkEmptyEpoch(root, 2)
    EpochFold.fold(spark, root, upTo = 3, MB128)
    val left = new java.io.File(root).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("epoch="))
    assert(left == 0, "metadata-only fold sources must be cleaned up, not folded")
  }

  test("fold mixing empty and data epochs preserves every row") {
    val root = Files.createTempDirectory("graft_fold_mix").toString + "/idx"
    writeEpoch(root, 0, Seq("a", "b"))
    mkEmptyEpoch(root, 1)
    writeEpoch(root, 2, Seq("c"))
    EpochFold.fold(spark, root, upTo = 3, MB128)
    assert(allKeys(root) == Seq("a", "b", "c"))
    val dirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("epoch=")).map(_.getName)
    assert(dirs.toSeq == Seq("epoch=2"), s"got ${dirs.toSeq}")
  }

  test("a committed snapshot is installed even when re-invoked with a LATER upTo") {
    // crash window: fold(upTo=3) committed and deleted its sources but
    // died before the rename. If the fold cadence then changes (e.g.
    // compactEvery reconfigured across a restart), the next call carries
    // a different upTo — the committed snapshot must still be found and
    // installed, or its keys are silently lost to an invisible dot-dir.
    val root = Files.createTempDirectory("graft_fold_late").toString + "/idx"
    (0 to 2).foreach(e => writeEpoch(root, e, Seq(s"k$e")))
    val tmp = s"$root/.compact_tmp_3"
    graft.batch.Lake.compactDirs(spark, (0 to 2).map(e => s"$root/epoch=$e"), tmp)
    assert(new java.io.File(tmp, "_GRAFT_COMMIT").createNewFile())
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 to 2).foreach { e =>
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$root/epoch=$e"), true))
    }
    // new data lands under the NEW cadence before the next fold
    writeEpoch(root, 3, Seq("k3"))
    EpochFold.fold(spark, root, upTo = 5, MB128)
    assert(allKeys(root) == Seq("k0", "k1", "k2", "k3"),
      "keys from the stranded committed snapshot must survive the cadence change")
    assert(!new java.io.File(tmp).exists(), "the recovered dot-dir must be gone")
  }

  test("recovery refuses a blocked destination BEFORE touching any source") {
    val root = Files.createTempDirectory("graft_fold_block").toString + "/idx"
    writeEpoch(root, 0, Seq("k0"))
    writeEpoch(root, 1, Seq("k1"))
    val tmp = s"$root/.compact_tmp_3"
    graft.batch.Lake.compactDirs(spark, Seq(s"$root/epoch=0", s"$root/epoch=1"), tmp)
    assert(new java.io.File(tmp, "_GRAFT_COMMIT").createNewFile())
    // a plain FILE squatting on the install destination (epoch=2)
    assert(new java.io.File(s"$root/epoch=2").createNewFile())
    val e = intercept[IllegalArgumentException] {
      EpochFold.fold(spark, root, upTo = 5, MB128)
    }
    assert(e.getMessage.contains("not a fold source"))
    // refusal happened before any deletion: sources AND snapshot intact
    assert(new java.io.File(s"$root/epoch=0").isDirectory)
    assert(new java.io.File(s"$root/epoch=1").isDirectory)
    assert(new java.io.File(tmp, "_GRAFT_COMMIT").exists())
    // clear the blocker; the same call converges with no keys lost
    assert(new java.io.File(s"$root/epoch=2").delete())
    EpochFold.fold(spark, root, upTo = 5, MB128)
    assert(allKeys(root) == Seq("k0", "k1"))
  }

  test("an uncommitted snapshot is discarded and the fold redone from intact sources") {
    val root = Files.createTempDirectory("graft_fold_uncommitted").toString + "/idx"
    writeEpoch(root, 0, Seq("a"))
    writeEpoch(root, 1, Seq("b"))
    // crash mid-compact: partial snapshot, NO commit marker, sources
    // intact. A genuine mid-write crash also leaves no _SUCCESS (Spark
    // only writes it on job completion — which is why a completed-but-
    // unmarked legacy fold may be installed), so drop the one the
    // fabrication write created.
    Seq("half-written").toDF("content_key")
      .write.parquet(s"$root/.compact_tmp_2")
    assert(new java.io.File(s"$root/.compact_tmp_2/_SUCCESS").delete())
    EpochFold.fold(spark, root, upTo = 2, MB128)
    assert(allKeys(root) == Seq("a", "b"),
      "the partial snapshot must not contaminate the fold result")
  }
}
