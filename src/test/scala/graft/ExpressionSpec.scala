package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{GraftFunctions, PlcFunctions}
import graft.stream.StoreEpoch

/** Native DecodePlcWordsExpr vs the built-in Column composition:
  * bit-identical on arbitrary word arrays (incl. nulls/negatives),
  * reachable from SQL, and exercised under whole-stage codegen. */
class ExpressionSpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body))

  test("native expression == Column composition (property, incl. nulls)") {
    val words = Gen.listOf(Gen.oneOf(
      Gen.choose(-70000, 70000).map(Option(_)), Gen.const(Option.empty[Int])))
    val cases = collection.mutable.Buffer[Seq[Option[Int]]]()
    sample(words, 60)(w => cases += w.toSeq)
    cases += Seq(Some(16961), None, Some(0x2020), Some(0))
    val df = cases.toSeq.toDF("w")
    val got = df.select(
      GraftFunctions.decode_plc_words(col("w")).as("native"),
      PlcFunctions.decodePlcWords(col("w")).as("composed"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"native=${r.getString(0)} composed=${r.getString(1)}"))
  }

  test("registered SQL functions work end-to-end") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT decode_plc_words(array(16961, 12849)) AS d,
        |       expand_alternatives('AB/CD 12') AS alts,
        |       expand_block('D3100', 3) AS addrs,
        |       shift_of(timestamp'2024-03-05 09:00:00') AS s1,
        |       plan_date_of(timestamp'2024-03-05 03:00:00') AS pd
        |""".stripMargin).collect().head
    assert(r.getString(0) == "AB12")
    assert(r.getSeq[String](1) == Seq("AB12", "CD12"))
    assert(r.getSeq[String](2) == Seq("D3100", "D3101", "D3102"))
    assert(r.getInt(3) == 1)
    assert(r.getDate(4).toString == "2024-03-04")
  }

  test("non-literal int args to native builders raise the intended message, not an eval crash") {
    GraftFunctions.register(spark)
    // a COLUMN where a literal is required: foldable guard fires with
    // the 'must be an integer literal' message instead of Spark's
    // eval-on-unevaluable internal error (round-11 ADVICE)
    val colArg = intercept[Exception] {
      spark.sql("SELECT phash_blocks(t, n) FROM VALUES ('ab', 4) AS v(t, n)").collect()
    }
    assert(colArg.getMessage.contains("must be an integer literal"),
      colArg.getMessage)
    // an out-of-int-range Long literal is rejected, not truncated
    val big = intercept[Exception] {
      spark.sql("SELECT phash_blocks('ab', 5000000000)").collect()
    }
    assert(big.getMessage.contains("integer literal"), big.getMessage)
  }

  test("native expression runs inside whole-stage codegen over a table") {
    // non-literal input through a real scan + projection (codegen path)
    val df = spark.range(1000)
      .select(col("id"), graft.functions.PlcFunctions.encodePlcWords(
        concat(lit("P"), col("id").cast("string"))).as("w"))
    val decoded = df.select(col("id"),
      GraftFunctions.decode_plc_words(col("w")).as("d"))
    val bad = decoded.filter(col("d") =!= concat(lit("P"), col("id").cast("string"))).count()
    assert(bad == 0)
  }

  test("vec_dot == aggregate(zip_with(...)) composition, bit-identical") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(200)((
      Seq.fill(64)(rnd.nextFloat() * 2 - 1),
      Seq.fill(64)(rnd.nextFloat() * 2 - 1))) :+
      (Seq.empty[Float], Seq.empty[Float])           // empty → 0.0
    val df = rows.toDF("a", "b")
    val composed = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val diffs = df.select(
        GraftFunctions.vec_dot(col("a"), col("b")).as("native"), composed.as("ref"))
      .filter(col("native") =!= col("ref")).count()
    assert(diffs == 0, "native dot must be bit-identical to the composition")
    // null semantics: length mismatch and null element both → null
    val edge = Seq(
      (Seq(Some(1.0f), Some(2.0f)), Seq(Some(1.0f))),
      (Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f))))
      .toDF("a", "b")
      .select(GraftFunctions.vec_dot(col("a"), col("b")).as("d")).collect()
    assert(edge.forall(_.isNullAt(0)))
    // SQL surface
    GraftFunctions.register(spark)
    val s = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").collect().head.getDouble(0)
    assert(s == 11.0)
  }

  test("GraftExtensions wires functions, strategy, and optimizer rule") {
    val (strategies, rules, functions) =
      org.apache.spark.sql.graftshim.ExtensionsProbe.probe(new GraftExtensions, spark)
    assert(strategies.contains("AsOfJoinStrategy"), s"strategies: $strategies")
    assert(rules.exists(_.contains("PushProbeFilterThroughAsOfJoin")), s"rules: $rules")
    assert(functions.contains("decode_plc_words") && functions.contains("vec_dot"))
  }

  test("GraftExtensions and GraftFunctions.register read one function table") {
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val builtin = FunctionRegistry.builtin.listFunction().map(_.funcName).toSet
    val (_, _, injected) =
      org.apache.spark.sql.graftshim.ExtensionsProbe.probe(new GraftExtensions, spark)
    val viaExtensions = injected.toSet -- builtin
    val s = spark.newSession()
    GraftFunctions.register(s)
    val viaRegister = s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet -- builtin
    assert(viaExtensions == viaRegister,
      s"only injected: ${viaExtensions -- viaRegister}; only registered: ${viaRegister -- viaExtensions}")
    assert(viaExtensions == GraftFunctions.sqlFunctions.map(_.name).toSet)
    assert(Set("minhash_sigs", "int8_pack", "int8_dot", "shift_of").subsetOf(viaExtensions))
  }

  /** The rows of `df.select(cols)` evaluated by generated code (the
    * session's defaults: whole-stage codegen, compiled projections) and
    * interpreted (the small-epoch shape, [[StoreEpoch.SmallEpochShape]],
    * that every live ingest epoch runs under), asserted equal; returns
    * the codegen rows. ConvertToLocalRelation is excluded in both runs,
    * or the optimizer folds the local fixture with an interpreted
    * projection both times and doGenCode never runs (same fix in
    * Int8Spec). */
  private def interpretedEqualsCodegen(df: DataFrame, cols: Column*): Seq[Row] = {
    def withConfs[T](kv: Map[String, String])(f: => T): T = {
      val set = spark.conf.getAll
      val prior = kv.keys.map(k => k -> set.get(k))
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try f finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConfs(Map("spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")) {
      val codegen = df.select(cols: _*).collect().toSeq
      val interpreted = withConfs(StoreEpoch.SmallEpochShape)(df.select(cols: _*).collect().toSeq)
      assert(interpreted == codegen)
      codegen
    }
  }

  test("vec_dot interpreted evaluation == codegen evaluation") {
    val rnd = new scala.util.Random(5)
    val rows = Seq.fill(50)((
      Seq.fill(16)(rnd.nextFloat() * 2 - 1), Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
    interpretedEqualsCodegen(rows.toDF("a", "b"), GraftFunctions.vec_dot(col("a"), col("b")))
  }

  test("bpe_encode interpreted evaluation == codegen evaluation") {
    // overlap runs, chained merges, an l==r merge, an unseen charset
    // word, and the empty word (encodes to just the end marker)
    val merges = Seq((1, "a", "b"), (2, "ab", "c"), (3, "c", "</w>"), (4, "ab", "ab"))
    val df = Seq("abcabc", "abc", "ababab", "aababb", "zq", "").toDF("w")
    val codegen = interpretedEqualsCodegen(df, GraftFunctions.bpe_encode(col("w"), merges))
    assert(codegen.last.getSeq[String](0) == Seq("</w>"), "empty word → just the end marker")
  }

  test("band_keys and minhash_sigs interpreted evaluation == codegen evaluation") {
    // shingle-less, short, mixed-case, non-ASCII, past-the-window and
    // null texts
    val rnd = new scala.util.Random(11)
    val texts = Seq(Some(""), Some("one two"), Some("One TWO three four"),
      Some("résumé naïve café über straße"), None) ++
      Seq.fill(20)(Some(Seq.fill(rnd.nextInt(80))(rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString)
        .mkString(" ")))
    val codegen = interpretedEqualsCodegen(texts.toDF("t"),
      GraftFunctions.band_keys(col("t")), GraftFunctions.minhash_sigs(col("t")))
    assert(codegen.exists(r => !r.isNullAt(0) && r.getSeq[Row](0).exists(b => !b.isNullAt(1))),
      "some text must have a signature")
  }

  test("phash_blocks interpreted evaluation == codegen evaluation, string and binary payloads") {
    // the ingest fixture's payloads, random ASCII and non-ASCII strings,
    // sub-block (unhashable) and null payloads
    val rnd = new scala.util.Random(13)
    val strs = (0 until 8).map(h => Some("a" * (h * 10) + "z" * 10 + "a" * ((31 - h) * 10))) ++
      Seq.fill(10)(Some(rnd.nextString(40 + rnd.nextInt(200)))) ++
      Seq.fill(10)(Some(rnd.alphanumeric.take(64 + rnd.nextInt(200)).mkString)) ++
      Seq(Some("x"), Some("short payload"), None)
    val s = interpretedEqualsCodegen(strs.toDF("m"),
      GraftFunctions.phash_blocks(col("m"), 32), GraftFunctions.phash_blocks(col("m"), 64))
    assert(s.count(!_.isNullAt(1)) >= 18, "the fixture and alphanumeric payloads hash at 64 bits")
    // binary: unsigned byte intensities, bytes past 127 included
    val bins = Seq.fill(20)(Option(Array.fill(32 + rnd.nextInt(200))(rnd.nextInt(256).toByte))) ++
      Seq(Some(Array.fill(31)(200.toByte)), None)
    val b = interpretedEqualsCodegen(bins.toDF("m"),
      GraftFunctions.phash_blocks(col("m"), 32), GraftFunctions.phash_blocks(col("m"), 64))
    assert(b.count(!_.isNullAt(0)) == 20, "every payload of at least 32 bytes hashes at 32 bits")
  }

  test("nearest_cells interpreted evaluation == codegen evaluation, malformed rows included") {
    // a tie, an opposite vector, a wrong-dim row, a null element, a
    // zero vector (its cosines are NaN) and a null embedding, against
    // a quantizer that holds one malformed centroid
    val cs = typedLit(Seq((0L, Seq(1f, 0f, 0f, 0f), 1.0), (1L, Seq(0f, 1f, 0f, 0f), 1.0),
      (2L, Seq(0f, 0f, 1f, 0f), 1.0), (3L, Seq(0.5f, 0.5f, 0.5f), 0.87),
      (4L, Seq(-0.5f, -0.5f, 0.5f, 0.5f), 1.0)))
    val rows = Seq[(Option[Seq[Option[Float]]], Option[Double])](
      (Some(Seq(1f, 0f, 0f, 0f).map(Some(_))), Some(1.0)),
      (Some(Seq(0.6f, 0.8f, 0f, 0f).map(Some(_))), Some(1.0)),
      (Some(Seq(1f, 1f, 0f, 0f).map(Some(_))), Some(math.sqrt(2))),
      (Some(Seq(-1f, -1f, 1f, 1f).map(Some(_))), Some(2.0)),
      (Some(Seq(1f, 0f, 0f).map(Some(_))), Some(1.0)),
      (Some(Seq(Some(1f), None, Some(0f), Some(0f))), Some(1.0)),
      (Some(Seq(0f, 0f, 0f, 0f).map(Some(_))), Some(0.0)),
      (None, None))
    val df = rows.toDF("emb", "nrm")
    def cells(p: Int, rounded: Boolean) =
      GraftFunctions.nearest_cells(cs, col("emb"), col("nrm"), p, rounded)
    val got = interpretedEqualsCodegen(df, cells(2, rounded = true), cells(2, rounded = false),
      cells(9, rounded = true))
    assert(got.head.getSeq[Long](0) == Seq(0L, 1L), "a unit vector's nearest cell is its own")
    assert(got.exists(r => !r.isNullAt(2) && r.getSeq[Long](2).isEmpty) || got.exists(_.isNullAt(2)),
      "some malformed row probes no cell")
  }
}
