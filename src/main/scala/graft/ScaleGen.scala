package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-fixture generator: amplify a driver fixture
  * directory into R ISOMORPHIC replicas of its `documents` and
  * `embeddings` tables, so the heavy operators can be measured at
  * 1×/3×/10× the data with the workload's STRUCTURE held fixed — the
  * empirical leg under PLANS.md's at-scale claims (ScaleBench runs the
  * five heaviest queries across the generated rungs and reports each
  * one's scaling exponent).
  *
  * Why isomorphic copies and not noise: a scaling measurement is only
  * meaningful if per-replica statistics (dup clusters, quality-gate
  * pass rate, span-contamination structure, near-pair density) are
  * IDENTICAL at every rung, so runtime growth isolates the engine.
  *
  *   - Text rides a per-replica LETTER BIJECTION (`translate` over
  *     a–z; replica 0 is the identity). A bijection preserves token
  *     boundaries, token/bigram equality structure, lengths and thus
  *     every quality signal, exact-dup groups, shingle/band structure
  *     and window-fingerprint matches WITHIN a replica bit-for-bit
  *     isomorphically — while two replicas share a 32-char window or
  *     a 3-shingle only by md5-scale accident. doc_id offsets preserve
  *     residues mod 10/100 (the fixture's eval/centroid splits), so
  *     the SAME originals play eval in every replica and a corpus doc
  *     never meets its own eval twin across replicas.
  *   - Embeddings ride a per-replica SIGNED COORDINATE PERMUTATION —
  *     an exact orthogonal map, so norms and within-replica cosines
  *     are preserved to the ulp (squares are sign-invariant; only
  *     summation order changes, absorbed by the operators' 6-dp
  *     rounding). Cross-replica cosines decorrelate to the random
  *     baseline: measured on the sf0.1 fixture, cos ≥ 0.4 occurs at
  *     4.8e-4 across replicas vs 4.6e-4 within — replication adds
  *     near-threshold pairs at the corpus's OWN density, which is the
  *     honest geometry of a 10× corpus.
  *
  * Everything is seed-fixed (java.util.Random's algorithm is
  * spec-pinned), so two runs — or a regenerated rung — are
  * byte-identical in content. A manifest records the parameters and
  * lets callers skip rungs already generated.
  */
object ScaleGen {

  /** Standalone rung generation: `runMain graft.Bench gen <srcDir>
    * <outDir> <replicas>` amplifies the FULL fixture surface —
    * documents/embeddings (isomorphic bijection/isometry) AND the
    * relational tables (join-closed key-offset replicas) — so the
    * entire oracle query set can run at a scale rung, not just the
    * document family. */
  def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case Seq(srcDir, outDir, replicas, _*) =>
      amplify(spark, srcDir, outDir, replicas.toInt)
      amplifyRelational(spark, srcDir, outDir, replicas.toInt)
    case _ => throw new Bench.UsageError("gen takes <srcDir> <outDir> <replicas>")
  }

  private[graft] val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** Replica k's image of [[Letters]] under the seeded bijection;
    * replica 0 is the identity so rung x1 is the source corpus with
    * new file bytes but identical content. */
  private[graft] def letterImage(k: Int): String =
    if (k == 0) Letters
    else new scala.util.Random(0xC0FFEEL + k)
      .shuffle(Letters.toList).mkString

  /** Replica k's signed coordinate permutation: out(j) = in(perm(j)) *
    * sign(j). Orthogonal for any perm/sign, identity at k = 0. */
  private[graft] def coordPerm(k: Int, dim: Int): (Array[Int], Array[Float]) =
    if (k == 0) ((0 until dim).toArray, Array.fill(dim)(1f))
    else {
      val r = new scala.util.Random(0xBEEF00L + k)
      val p = r.shuffle((0 until dim).toList).toArray
      val s = Array.fill(dim)(if (r.nextBoolean()) 1f else -1f)
      (p, s)
    }

  /** Case-when chain over the replica column `k` — R is small (≤ a few
    * dozen), so an R-branch expression stays codegen-friendly and the
    * whole amplification is ONE scan of the source table. */
  private def perReplica(replicas: Int)(f: Int => Column): Column =
    (0 until replicas).foldRight(lit(null): Column) { (k, acc) =>
      when(col("k") === k, f(k)).otherwise(acc)
    }

  /** Id offset between replicas: the smallest multiple of 100 past the
    * source's max doc_id, so doc_id % 10 (eval split) and vec_id % 100
    * (centroid split) residues — and the doc_id = vec_id join — are
    * preserved in every replica. */
  private[graft] def replicaOffset(docs: DataFrame): Long = {
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    (maxId / 100 + 1) * 100
  }

  /** Amplify `srcDir`'s documents + embeddings into `outDir` at
    * `replicas`×. Skips work if a manifest with the same parameters is
    * already present (delete the directory to force). */
  def amplify(spark: SparkSession, srcDir: String, outDir: String,
              replicas: Int): Unit = {
    val manifest = new java.io.File(s"$outDir/SCALEGEN.json")
    val params =
      s"""{"src":"$srcDir","replicas":$replicas,"version":1}"""
    if (manifest.isFile &&
      new String(java.nio.file.Files.readAllBytes(manifest.toPath),
        java.nio.charset.StandardCharsets.UTF_8) == params) return

    val docs = Tables.documents(spark, srcDir)
    val emb = Tables.embeddings(spark, srcDir)
    val off = replicaOffset(docs)
    require(emb.agg(max(col("vec_id"))).head.getLong(0) < off,
      s"vec_id range must sit inside the doc_id-derived offset $off")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)

    val reps = broadcast(
      spark.range(replicas).select(col("id").cast("int").as("k")))

    docs.crossJoin(reps)
      .withColumn("doc_id", col("doc_id") + col("k") * off)
      .withColumn("text", perReplica(replicas) { k =>
        if (k == 0) col("text")
        else translate(col("text"), Letters, letterImage(k))
      })
      .drop("k") // translate is 1:1 → n_chars already correct
      .select(docs.columns.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")

    emb.crossJoin(reps)
      .withColumn("vec_id", col("vec_id") + col("k") * off)
      .withColumn("embedding", perReplica(replicas) { k =>
        if (k == 0) col("embedding")
        else {
          val (p, s) = coordPerm(k, dim)
          array((0 until dim).map { j =>
            (element_at(col("embedding"), p(j) + 1) * lit(s(j))).cast("float")
          }: _*)
        }
      })
      .drop("k")
      .select(emb.columns.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")

    java.nio.file.Files.write(manifest.toPath,
      params.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** LCM of every modulus any query applies to a relational key
    * (2,3,10,50,100,256,500,997 — grep-audited): key offsets that are
    * multiples of this preserve ALL residue classes, so modular
    * samples/filters select the same per-replica subsets and the
    * amplified workload stays isomorphic. */
  private[graft] val KeyResidueLcm = 95712000L

  private def keyOffset(df: DataFrame, key: String): Long = {
    val maxKey = df.agg(max(col(key).cast("long"))).head.getLong(0)
    (maxKey / KeyResidueLcm + 1) * KeyResidueLcm
  }

  /** Amplify the RELATIONAL fixture tables into `outDir` at
    * `replicas`× so the full oracle surface — not just the
    * document/embedding queries — can run at a scale rung.
    *
    * Shape: every foreign-key domain gets its own offset (a multiple
    * of [[KeyResidueLcm]], past the domain's max), applied to the key
    * on BOTH sides of each join — so each replica is a disjoint,
    * join-closed copy of the source (customer↔orders↔lineitem,
    * part/supplier↔lineitem, events.user sessions). The fixed dims
    * `region`/`nation` are copied untouched: they model a closed
    * 5-region/25-nation world whose cardinality does NOT grow with
    * the corpus, exactly as at 100 TB. Non-key payload columns ride
    * unchanged — group labels, dates and value distributions repeat
    * per replica, so per-group counts scale by R while group
    * cardinality holds, the normal shape of a scaled fact table. */
  def amplifyRelational(spark: SparkSession, srcDir: String,
                        outDir: String, replicas: Int): Unit = {
    val manifest = new java.io.File(s"$outDir/SCALEGEN_REL.json")
    val params =
      s"""{"src":"$srcDir","replicas":$replicas,"version":1}"""
    if (manifest.isFile &&
      new String(java.nio.file.Files.readAllBytes(manifest.toPath),
        java.nio.charset.StandardCharsets.UTF_8) == params) return

    val reps = broadcast(
      spark.range(replicas).select(col("id").cast("int").as("k")))

    def write(df: DataFrame, name: String, offsets: (String, Long)*): Unit = {
      val amplified = offsets.foldLeft(df.crossJoin(reps)) {
        case (cur, (key, off)) =>
          cur.withColumn(key, col(key) + col("k") * off)
      }
      amplified.drop("k").select(df.columns.map(col): _*)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
    }

    val customer = Tables.customer(spark, srcDir)
    val supplier = Tables.supplier(spark, srcDir)
    val part     = Tables.part(spark, srcDir)
    val orders   = Tables.orders(spark, srcDir)
    val events   = Tables.events(spark, srcDir)
    val custOff  = keyOffset(customer, "c_custkey")
    val suppOff  = keyOffset(supplier, "s_suppkey")
    val partOff  = keyOffset(part, "p_partkey")
    val orderOff = keyOffset(orders, "o_orderkey")
    val eventOff = keyOffset(events, "event_id")
    val userOff  = keyOffset(events, "user_id")

    // fixed-cardinality dims: byte-copy semantics via a 1-replica pass
    Tables.region(spark, srcDir)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/region.parquet")
    Tables.nation(spark, srcDir)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/nation.parquet")

    write(customer, "customer", "c_custkey" -> custOff)
    write(supplier, "supplier", "s_suppkey" -> suppOff)
    write(part, "part", "p_partkey" -> partOff)
    write(orders, "orders",
      "o_orderkey" -> orderOff, "o_custkey" -> custOff)
    write(Tables.lineitem(spark, srcDir), "lineitem",
      "l_orderkey" -> orderOff, "l_partkey" -> partOff,
      "l_suppkey" -> suppOff)
    // Tables.events normalizes ts to session-zone TIMESTAMP on read;
    // write the rung back as naive µs (timestamp_ntz — value-identity
    // under the UTC session zone) so the rung file matches the µs
    // fixture generation and DuckDB/Tables read it the same way they
    // read a driver fixture
    write(events.withColumn("ts", col("ts").cast("timestamp_ntz")),
      "events", "event_id" -> eventOff, "user_id" -> userOff)

    java.nio.file.Files.write(manifest.toPath,
      params.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
