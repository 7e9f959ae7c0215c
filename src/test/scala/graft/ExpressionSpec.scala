package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{GraftFunctions, PlcFunctions}

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

  test("vec_dot interpreted evaluation == codegen evaluation") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = Seq.fill(50)((
      Seq.fill(16)(rnd.nextFloat() * 2 - 1), Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val expr = GraftFunctions.vec_dot(col("a"), col("b")).as("d")
    // exclude ConvertToLocalRelation or the LocalRelation fixture is
    // folded with an interpreted projection in BOTH runs and doGenCode
    // never executes (round-12 review finding; same fix in Int8Spec)
    val prevExcl = spark.conf.getOption("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    try {
      val codegen = df.select(expr).collect().map(_.getDouble(0))
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = df.select(expr).collect().map(_.getDouble(0))
      assert(interpreted.toSeq === codegen.toSeq)
    } finally {
      prevFactory match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      prevExcl match {
        case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
        case None => spark.conf.unset("spark.sql.optimizer.excludedRules")
      }
    }
  }

  test("bpe_encode interpreted evaluation == codegen evaluation") {
    import spark.implicits._
    // overlap runs, chained merges, an l==r merge, an unseen charset
    // word, and the empty word (encodes to just the end marker)
    val merges = Seq((1, "a", "b"), (2, "ab", "c"), (3, "c", "</w>"), (4, "ab", "ab"))
    val df = Seq("abcabc", "abc", "ababab", "aababb", "zq", "").toDF("w")
    val e = GraftFunctions.bpe_encode(col("w"), merges).as("syms")
    val prevExcl = spark.conf.getOption("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    try {
      val codegen = df.select(e).collect().map(_.getSeq[String](0))
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = df.select(e).collect().map(_.getSeq[String](0))
      assert(interpreted.toSeq === codegen.toSeq)
      assert(codegen.last == Seq("</w>"), "empty word → just the end marker")
    } finally {
      prevFactory match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      prevExcl match {
        case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
        case None => spark.conf.unset("spark.sql.optimizer.excludedRules")
      }
    }
  }
}
