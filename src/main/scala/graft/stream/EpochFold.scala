package graft.stream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

import graft.batch.Lake

/** The crash-safe epoch-fold protocol shared by the ingest stores:
  * fold every `epoch=K` partition with `K < upTo` under `path` into ONE
  * partition labeled `epoch = upTo - 1`. Probe visibility is preserved
  * exactly — any epoch `N >= upTo` still sees all folded rows
  * (`upTo - 1 < N`) — and the caller must pass `upTo` ≤ the oldest
  * epoch that can still be replayed.
  *
  * Commit protocol: the folded snapshot is written to a dot-prefixed
  * temp dir (invisible to Spark's file index), its own `_GRAFT_COMMIT`
  * marker is created (Spark's `_SUCCESS` is conf-dependent and only
  * honored as evidence for folds interrupted under the old layout),
  * and only then are sources dropped and the temp dir renamed into
  * place — with every post-commit FS boolean `require()`d, because a
  * silently failed delete/rename would strand the only copy of the
  * folded rows in an invisible dot-dir. Re-running after a crash or an
  * abort at ANY point completes the fold; a blocked destination aborts
  * BEFORE any source is touched.
  *
  * Used by [[IngestDedup]] (flat key indexes, key-sorted files) and
  * [[EmbedIngest]] (cell-partitioned vector corpus).
  */
private[stream] object EpochFold {

  /** Move a pre-epoch-layout (flat) table's data files into an
    * `epoch=-1` partition. Without this, the first `epoch=N` write puts
    * partitioned dirs NEXT TO the legacy flat files and every later
    * read dies on Spark's "Conflicting directory structures" assertion.
    * `-1` sorts before every real epoch, so `epoch < N` visibility
    * treats legacy rows as all-prior. Idempotent and crash-safe: a
    * re-run moves whatever flat files remain. Metadata files
    * (`_SUCCESS`, dot-files) stay at the root, where Spark's file index
    * already ignores them. */
  def migrateLegacyFlat(s: SparkSession, path: String): Unit =
    migrateLegacyFlat(s.sparkContext.hadoopConfiguration, path)

  /** [[migrateLegacyFlat]] with the FileSystem of `conf`. */
  def migrateLegacyFlat(conf: Configuration, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return
    val flat = fs.listStatus(root).filter { st =>
      val n = st.getPath.getName
      !n.startsWith(".") && !n.startsWith("_") && !n.contains("=")
    }
    if (flat.isEmpty) return
    val dest = new org.apache.hadoop.fs.Path(root, "epoch=-1")
    if (!fs.exists(dest)) require(fs.mkdirs(dest), s"cannot create $dest")
    flat.foreach { st =>
      require(fs.rename(st.getPath,
          new org.apache.hadoop.fs.Path(dest, st.getPath.getName)),
        s"cannot migrate legacy file ${st.getPath} into $dest")
    }
  }

  /** True iff `path` holds at least one DATA file (short-circuits on
    * the first hit). `fs.exists` alone is the wrong gate for "is there
    * a table to read": an empty micro-batch's write leaves an epoch
    * dir holding only `_SUCCESS`, and `spark.read.parquet` over
    * metadata-only dirs dies with UNABLE_TO_INFER_SCHEMA — the same
    * trap as the round-4 bucketed-sink marker bug.
    *
    * A data file is what Spark's file index reads: a file none of whose
    * path components below `path` is [[hidden]]. So the rows of a fold
    * snapshot in `.compact_tmp_N/` or of an install in `.epoch=N.tmp/`
    * are not data until renamed into place — a store holding only such
    * a directory after a crash has no data, exactly as a read of it
    * would find. */
  def hasDataFiles(s: SparkSession, path: String): Boolean =
    hasDataFiles(s.sparkContext.hadoopConfiguration, path)

  /** [[hasDataFiles]] with the FileSystem of `conf`. */
  def hasDataFiles(conf: Configuration, path: String): Boolean =
    firstDataFile(conf, path).isDefined

  /** The first data file ([[hasDataFiles]]) under `path`, depth first,
    * listing only the directories a read would enter. */
  def firstDataFile(conf: Configuration, path: String): Option[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def walk(dir: Path): Option[FileStatus] = {
      val (files, dirs) = fs.listStatus(dir).filterNot(st => hidden(st.getPath.getName))
        .partition(_.isFile)
      files.headOption.orElse(dirs.iterator.map(d => walk(d.getPath)).collectFirst {
        case Some(f) => f
      })
    }
    if (fs.exists(root)) walk(root) else None
  }

  /** A name Spark's file index skips: a leading `.`, or a leading `_`
    * unless it names a partition (`__shift=…`). */
  def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  def fold(s: SparkSession, path: String, upTo: Long, targetBytes: Long,
           sortCols: Seq[String] = Nil, partitionCols: Seq[String] = Nil): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    recoverInterrupted(fs, root)
    val tmp = new org.apache.hadoop.fs.Path(root, s".compact_tmp_$upTo")
    val commit = new org.apache.hadoop.fs.Path(tmp, "_GRAFT_COMMIT")
    val folded = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("epoch="))
      .map(st => (st.getPath, st.getPath.getName.stripPrefix("epoch=").toLong))
      .filter(_._2 < upTo)
    if (folded.length <= 1) return
    // gate fold SOURCES on data presence: an empty micro-batch's write
    // leaves an epoch dir holding only _SUCCESS, and reading a set of
    // metadata-only dirs dies with UNABLE_TO_INFER_SCHEMA — which, since
    // the fold runs at the start of the micro-batch, would crashloop the
    // stream on every replay (realistic for band_idx when early epochs
    // hold only shingle-less or all-duplicate docs)
    val withData = folded.filter { case (p, _) => hasDataFiles(s, p.toString) }
    if (withData.isEmpty) {
      // no rows to preserve anywhere: just drop the empty epoch dirs
      folded.foreach { case (p, _) =>
        require(fs.delete(p, true),
          s"compaction: could not delete empty fold source $p")
      }
      return
    }
    Lake.compactDirs(s, withData.map(_._1.toString).toSeq, tmp.toString,
      targetBytes, sortCols, partitionCols)
    val o = fs.create(commit, true); o.close()
    // commit point reached; everything below succeeds or stops loudly
    val dest = new org.apache.hadoop.fs.Path(root, s"epoch=${upTo - 1}")
    require(folded.exists(_._1.getName == dest.getName) || !fs.exists(dest),
      s"compaction: $dest exists but is not a fold source; refusing to touch " +
        "sources (remove the blocker and re-run — the fold is preserved in " +
        s"$tmp and this call is idempotent)")
    folded.foreach { case (p, _) =>
      require(fs.delete(p, true), s"compaction: could not delete fold source $p")
    }
    require(!fs.exists(dest), s"compaction: $dest reappeared after source deletion")
    require(fs.rename(tmp, dest), s"compaction: could not install $dest from $tmp")
  }

  /** Finish (or discard) folds interrupted by a crash, regardless of the
    * `upTo` they were started with. A `.compact_tmp_<N>` carrying a
    * commit marker passed its commit point: the snapshot may be the only
    * copy of its rows (sources partially deleted), so the install is
    * completed here — any remaining `epoch<N` dir is a fold source whose
    * rows the snapshot already holds. Without a marker the sources are
    * intact and the partial snapshot is discarded. Running this on every
    * entry (not only when re-invoked with the same `upTo`, which the tmp
    * name embeds) closes the window where a caller whose fold cadence
    * changed across a restart would strand a committed snapshot in an
    * invisible dot-dir — for the ingest indexes that means silently
    * re-admitting every duplicate whose key was in the folded epochs. */
  private def recoverInterrupted(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val TmpName = """\.compact_tmp_(-?\d+)""".r
    val tmps = fs.listStatus(root).flatMap { st =>
      st.getPath.getName match {
        case TmpName(n) if st.isDirectory => Some((st.getPath, n.toLong))
        case _ => None
      }
    }.sortBy(_._2)
    tmps.foreach { case (tmp, n) =>
      val committed = fs.exists(new org.apache.hadoop.fs.Path(tmp, "_GRAFT_COMMIT")) ||
        fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))
      if (!committed) {
        // pre-commit: sources intact, snapshot incomplete — discard it
        require(fs.delete(tmp, true),
          s"compaction: could not discard uncommitted fold snapshot $tmp")
      } else {
        val dest = new org.apache.hadoop.fs.Path(root, s"epoch=${n - 1}")
        val sources = fs.listStatus(root)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("epoch="))
          .filter(_.getPath.getName.stripPrefix("epoch=").toLong < n)
        // same refusal as fold(): never delete sources under a blocked dest
        require(sources.exists(_.getPath.getName == dest.getName) || !fs.exists(dest),
          s"compaction recovery: $dest exists but is not a fold source; refusing " +
            s"to touch sources (remove the blocker and re-run — the committed " +
            s"fold is preserved in $tmp)")
        sources.foreach { st =>
          require(fs.delete(st.getPath, true),
            s"compaction recovery: could not delete fold source ${st.getPath}")
        }
        require(!fs.exists(dest),
          s"compaction recovery: $dest reappeared after source deletion")
        require(fs.rename(tmp, dest),
          s"compaction recovery: could not install $dest from $tmp")
      }
    }
  }
}
