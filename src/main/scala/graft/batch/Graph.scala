package graft.batch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanBridge

import graft.stream.StoreEpoch

/** Graph resolution: the scale-safe inversion of the reference's walk
  * over linked production records, one ODBC round trip per hop
  * (Prensas.py:285-331). Two operations, each with one driver route
  * and one distributed loop:
  *
  *   - [[components]]: connected components of an undirected edge set
  *     (the near-dup clusters of qd6, qd17–qd20 and the curation chain);
  *   - [[terminals]]: every pointer rewritten to the end of its chain
  *     (the ingest ledger's dup_of);
  *
  * plus [[rank]] (list ranking, q37), which shares the doubling loop of
  * `terminals`' distributed route.
  *
  * Both operations route through one gate: one bounded collect
  * ([[StoreEpoch.gate]]) decides the route and brings the rows. Inputs
  * of at most [[DriverLimit]] rows resolve on the driver in a hash map;
  * larger ones take the distributed loop, whose every round is a
  * shuffle barrier and two or three scheduled jobs — seconds per call
  * at batch sizes, where the driver needs milliseconds.
  */
object Graph {

  /** Inputs of at most this many rows resolve on the driver: a million
    * rows of two or three narrow columns collect as ≤ ~40 MB. The conf
    * `graft.graph.driverLimit` overrides it (specs set 0 to run the
    * distributed loops). */
  val DriverLimit = 1000000L

  /** Round cap of the distributed loops, a cycle guard: both shortcut
    * pointers every round, so the resolved depth grows geometrically
    * and 48 rounds outlast any acyclic input. */
  val MaxRounds = 48

  private def driverLimit(s: SparkSession): Long =
    s.conf.getOption("graft.graph.driverLimit").map(_.toLong).getOrElse(DriverLimit)

  /** Connected components of the undirected edge set `pairs` (id_a,
    * id_b): `(id, label)` for every node in some pair, labeled by its
    * component's minimum id; nodes with no edge are absent (callers'
    * [[Dedup.membersOf]] treats them as singletons). Within the gate,
    * union-find on the driver; above it, min-label propagation with a
    * pointer-jumping shortcut. */
  def components(pairs: DataFrame): DataFrame = {
    val p0 = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .localCheckpoint(eager = false) // filled by the gate
    StoreEpoch.gate(p0, driverLimit(p0.sparkSession))._1 match {
      case Some(rows) => unionFind(p0.sparkSession, rows)
      case None => propagate(p0)
    }
  }

  /** Min-label propagation to a fixpoint over the edge set `p0`: each
    * round every node takes the min label among itself and its
    * neighbours, then label := label(label) — every label is a node id,
    * so this shortcut jumps the pointer and long paths converge in
    * O(log length) rounds instead of one hop per round. Labels only
    * decrease, so "no label changed" is the fixpoint. Chosen over
    * large-star/small-star by rounds, jobs and wall time (CHANGES.md). */
  private def propagate(p0: DataFrame): DataFrame = {
    val edges = p0.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p0.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var converged = false
    var rounds = 0
    while (!converged) {
      require(rounds < MaxRounds,
        s"components: label propagation did not converge in $MaxRounds rounds")
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(col("src").as("id"), col("label"))
        .union(labels)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint() // feeds both sides of the shortcut join
      val propL = prop.select(col("id").as("lid"), col("label").as("llabel"))
      // sized as the edge set, an upper bound on the label table
      val next = PlanBridge.localCheckpoint(
        prop.join(propL, prop("label") === propL("lid"), "left")
          .select(prop("id"), coalesce(col("llabel"), prop("label")).as("label")),
        edges)
      converged = next.withColumnRenamed("label", "next_label")
        .join(labels, "id")
        .filter(col("next_label") =!= col("label"))
        .isEmpty
      labels = next
      rounds += 1
    }
    labels
  }

  /** Driver component labels of gated (id_a, id_b) rows: union-find
    * with path halving and union by rank, then label = the component's
    * min id — the fixpoint [[propagate]] converges to. */
  private def unionFind(s: SparkSession, rows: Seq[InternalRow]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long](rows.length * 4)
    val rank = new java.util.HashMap[Long, Int](rows.length * 4)
    def find(x0: Long): Long = {
      var x = x0
      while (parent.get(x) != x) {
        val gp = parent.get(parent.get(x))
        parent.put(x, gp) // path halving
        x = gp
      }
      x
    }
    def add(x: Long): Unit =
      if (!parent.containsKey(x)) { parent.put(x, x); rank.put(x, 0) }
    rows.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        val (hi, lo) =
          if (rank.get(ra) >= rank.get(rb)) (ra, rb) else (rb, ra)
        parent.put(lo, hi)
        if (rank.get(hi) == rank.get(lo)) rank.put(hi, rank.get(hi) + 1)
      }
    }
    // component min id per root, then (id, label = its root's min)
    val minOf = new java.util.HashMap[Long, Long](rows.length * 4)
    val it0 = parent.keySet().iterator()
    while (it0.hasNext) {
      val id = it0.next()
      val r = find(id)
      if (!minOf.containsKey(r) || id < minOf.get(r)) minOf.put(r, id)
    }
    val out = new Array[(Long, Long)](parent.size())
    var i = 0
    val it1 = parent.keySet().iterator()
    while (it1.hasNext) {
      val id = it1.next()
      out(i) = (id, minOf.get(find(id)))
      i += 1
    }
    import s.implicits._
    // width from the label count, not the core count: a 32-partition
    // label table made every downstream labels join a 32-task job for
    // a frame that fits in one task by construction
    s.createDataset(s.sparkContext.parallelize(out.toSeq,
      graft.Tables.widthForRows(s, out.length.toLong)))
      .toDF("id", "label")
  }

  /** `state` (`id`, `ptr`, `carry`...) with every pointer rewritten to
    * the end of its chain: `ptr` is followed through the frame until it
    * names an id outside the frame, or a row whose own pointer is null
    * (then that row's id). Null pointers stay null; the `carry` columns
    * ride along unchanged. `id` and `ptr` are longs and ids are unique.
    * A cycle — corrupted input — fails loudly ("cycled").
    *
    * Within the gate the chains resolve on the driver with memoized
    * path compression (O(rows) however deep) and the result is a local
    * frame, read without a job. Above it, the doubling loop carries the
    * chain end as a column: a row whose target is itself resolved ends
    * where the target ends. */
  def terminals(state: DataFrame, id: String, ptr: String, carry: Seq[String]): DataFrame = {
    val cur = state.select((Seq(id, ptr) ++ carry).map(col): _*)
      .localCheckpoint(eager = false) // filled by the gate
    StoreEpoch.gate(cur, driverLimit(cur.sparkSession))._1 match {
      case Some(rows) =>
        val next = new java.util.HashMap[Long, java.lang.Long](rows.length * 2)
        rows.foreach(r => next.put(r.getLong(0),
          if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))))
        // each node's terminal is computed once; the hop bound is the
        // cycle guard
        val memo = new java.util.HashMap[Long, java.lang.Long](rows.length * 2)
        def terminal(start: Long): Long = {
          var t = start
          val path = new java.util.ArrayList[Long]()
          while (!memo.containsKey(t) && next.get(t) != null) {
            path.add(t)
            require(path.size <= next.size, s"terminals: pointer chain cycled at $start")
            t = next.get(t)
          }
          val end = if (memo.containsKey(t)) memo.get(t).longValue() else t
          path.forEach(p => memo.put(p, end))
          end
        }
        rows.foreach(r => if (!r.isNullAt(1)) r.setLong(1, terminal(r.getLong(1))))
        PlanBridge.ofRows(cur.sparkSession, LocalRelation(DataTypeUtils.toAttributes(cur.schema), rows))
      case None =>
        val (out, _) = double(cur.withColumn("end", col(ptr)), Nil, id, ptr, "end",
          (mine, theirs) => coalesce(theirs, mine), "terminals")
        out.select(col(id) +: col("end").as(ptr) +: carry.map(col): _*)
    }
  }

  /** List ranking: rows with a predecessor pointer (`ptr`, null at
    * chain heads) within equal `grp` keys and a hop weight (`dist`: 0 at
    * heads, 1 elsewhere, or any per-edge weight) come back with `ptr`
    * null and `dist` the total weight of the walk to the head, with the
    * number of doubling rounds run. A pointer naming no row is a head. */
  def rank(state: DataFrame, grp: Seq[String], id: String, ptr: String,
      dist: String): (DataFrame, Int) =
    double(state, grp, id, ptr, dist, (mine, theirs) => mine + coalesce(theirs, lit(0L)), "rank")

  /** Pointer doubling: each round joins every row to the row its `ptr`
    * names (within equal `grp` keys), takes that row's pointer and folds
    * that row's `acc` into its own (`theirs` is null when the pointer
    * names no row). The resolved depth doubles per round, so a depth-D
    * chain takes ⌊log2 D⌋+1 rounds where a walk schedules D. Pointers
    * drain to null; on a cycle they never do. The one job per round that
    * asks whether any pointer is left also asks whether one names its
    * own row: a cycle of length L = 2^k has each member point at itself
    * after k rounds, so it fails then; other cycles fail at
    * [[MaxRounds]]. */
  private def double(state: DataFrame, grp: Seq[String], id: String, ptr: String,
      acc: String, fold: (Column, Column) => Column, what: String): (DataFrame, Int) = {
    val in = state.localCheckpoint()
    var cur = in
    var rounds = 0
    // whether a pointer is left, and whether one names its own row
    def left = StoreEpoch.distinctUpTo(cur.filter(col(ptr).isNotNull)
      .select(col(ptr) === col(id)), 2)
    var open = left
    while (open.nonEmpty) {
      require(!open.contains(true),
        s"$what: pointer chain cycled (did not converge: a row points at itself after $rounds rounds)")
      require(rounds < MaxRounds,
        s"$what: pointer chain cycled (did not converge in $MaxRounds rounds)")
      val tgt = cur.select(grp.map(g => col(g).as(s"t_$g")) ++ Seq(
        col(id).as("t_id"), col(ptr).as("t_ptr"), col(acc).as("t_acc")): _*)
      val cond = grp.map(g => cur(g) === tgt(s"t_$g"))
        .foldLeft(cur(ptr) === tgt("t_id"))(_ && _)
      // every round keeps one row per input row
      cur = PlanBridge.localCheckpoint(cur.join(tgt, cond, "left")
        .select(cur.columns.toSeq.map {
          case `ptr` => tgt("t_ptr").as(ptr)
          case `acc` => fold(cur(acc), tgt("t_acc")).as(acc)
          case c => cur(c)
        }: _*), in)
      rounds += 1
      open = left
    }
    (cur, rounds)
  }
}
