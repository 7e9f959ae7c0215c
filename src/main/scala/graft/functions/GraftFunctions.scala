package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}

/** SQL-surface registration for the engine's custom functions, so
  * `spark.sql("SELECT decode_plc_words(words) ...")` works alongside
  * the Scala Column API.
  *
  * `decode_plc_words` binds to the native codegen expression
  * ([[DecodePlcWordsExpr]]); the others are SQL expression macros —
  * templates parsed once by the session parser with `__aN`
  * placeholders substituted by the call arguments, so they expand into
  * ordinary built-in expression trees Catalyst optimizes like any
  * other (no UDF boundary).
  */
object GraftFunctions {

  /** Column API for the native decode expression. */
  def decode_plc_words(c: Column): Column = column(DecodePlcWordsExpr(expression(c)))

  /** Column API for the native dot product ([[VectorDotExpr]]). */
  def vec_dot(a: Column, b: Column): Column = column(VectorDotExpr(expression(a), expression(b)))

  /** Quantize+pack a float/double vector into one int8 binary blob
    * (scale = caller-chosen, conventionally max|x|/127 — qs6's rule). */
  def int8_pack(vec: Column, scale: Column): Column =
    column(Int8PackExpr(expression(vec), expression(scale)))

  /** Exact integer dot of two int8_pack blobs. */
  def int8_dot(a: Column, b: Column): Column =
    column(Int8DotExpr(expression(a), expression(b)))

  /** Column API for the native block average-hash ([[PhashExpr]]). */
  def phash_blocks(c: Column, nBits: Int): Column = column(PhashExpr(expression(c), nBits))

  /** Column API for the native LSH band keys ([[BandKeysExpr]]). */
  def band_keys(c: Column): Column = column(BandKeysExpr(expression(c)))

  def minhash_sigs(c: Column): Column = column(MinhashSigsExpr(expression(c)))

  /** Column API for the native top-p centroid probe ([[NearestCellsExpr]]). */
  def nearest_cells(cs: Column, emb: Column, nrm: Column, p: Int,
      rounded: Boolean = true): Column =
    column(NearestCellsExpr(expression(cs), expression(emb), expression(nrm), p, rounded))

  /** Column API for the native span fingerprints ([[SpanFingerprintsExpr]]). */
  def span_fps(c: Column, window: Int, stride: Int): Column =
    column(SpanFingerprintsExpr(expression(c), window, stride))

  /** Column API for the native BPE replay encoder ([[BpeEncodeExpr]]);
    * no SQL registration — the ranked merge list is plan state, not
    * something SQL literals can carry at 32k merges. */
  def bpe_encode(word: Column, merges: Seq[(Int, String, String)]): Column =
    column(BpeEncodeExpr(expression(word), merges))

  /** Column API for the native Bloom membership test
    * ([[BloomMightContainExpr]]); no SQL registration — the filter is a
    * runtime object, not something SQL literals can carry. */
  def bloom_might_contain(c: Column, bf: org.apache.spark.util.sketch.BloomFilter): Column =
    column(BloomMightContainExpr(expression(c), bf))

  /** Build a Bloom filter over `df(colName)` sized from the ACTUAL
    * build-side cardinality (one cheap count job over the — by
    * construction — small/selective side) instead of a fixed capacity.
    * A filter saturated past its expectedNumItems degrades toward
    * fpp→1 and silently loses the map-side pruning that is a
    * bloom-join's entire point; sizing from the data keeps the
    * advertised fpp at any scale. `floorItems` guards the degenerate
    * empty/near-empty build side. */
  def sizedBloomFilter(
      df: org.apache.spark.sql.DataFrame,
      colName: String,
      fpp: Double = 0.01,
      floorItems: Long = 1024L): org.apache.spark.util.sketch.BloomFilter = {
    val n = df.select(colName).count()
    df.stat.bloomFilter(colName, math.max(n, floorItems), fpp)
  }

  /** An SQL template with `__aN` placeholders, parsed once, whose
    * placeholders the call arguments replace. Parsed with the
    * session-independent Catalyst parser, so the macro can be injected
    * at session build time as well as registered into a live session. */
  private def sqlMacro(template: String): Seq[Expression] => Expression = {
    val parsed = CatalystSqlParser.parseExpression(template)
    exprs =>
      parsed.transformUp {
        case a: UnresolvedAttribute
            if a.nameParts.length == 1 && a.nameParts.head.startsWith("__a") =>
          exprs(a.nameParts.head.drop(3).toInt)
        // identifiers inside lambda bodies parse as lambda variables
        case v: UnresolvedNamedLambdaVariable
            if v.nameParts.length == 1 && v.nameParts.head.startsWith("__a") =>
          exprs(v.nameParts.head.drop(3).toInt)
      }
  }

  /** The padded-string fragment of encode (odd length → NUL pad). */
  private val Padded =
    "concat(__a0, if(pmod(length(__a0), 2) = 1, char(0), ''))"

  /** Arity guard: a clear message instead of an IndexOutOfBounds from
    * the builder lambda when SQL passes the wrong argument count. */
  private[graft] def arity(name: String, n: Int, exprs: Seq[Expression]): Seq[Expression] = {
    require(exprs.length == n,
      s"$name requires exactly $n argument(s), got ${exprs.length}")
    exprs
  }

  /** Fold a foldable int argument of a native-expression builder.
    * Guarded on `foldable` so a column argument (e.g.
    * `nearest_cells(…, p_col)`) raises the intended message instead of
    * an eval-on-unevaluable crash; a Long literal is range-checked
    * rather than silently truncated. */
  private[graft] def intLiteral(what: String, e: Expression): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be an integer literal, got non-foldable expression ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal in int range, got $other")
    }
  }

  /** One SQL function of the engine: its name, the class that
    * implements it (for `DESCRIBE FUNCTION`) and its builder. */
  final case class SqlFunction(name: String, impl: String,
      build: Seq[Expression] => Expression)

  private def native(name: String, impl: Class[_])(build: Seq[Expression] => Expression) =
    SqlFunction(name, impl.getName, build)
  private def macroFn(name: String, template: String) =
    SqlFunction(name, getClass.getName, sqlMacro(template))

  /** The one table of SQL functions: [[register]] installs it into a
    * live session, [[graft.GraftExtensions]] injects it at session build. */
  lazy val sqlFunctions: Seq[SqlFunction] = Seq(
    native("decode_plc_words", classOf[DecodePlcWordsExpr])(
      e => DecodePlcWordsExpr(arity("decode_plc_words", 1, e).head)),
    native("vec_dot", classOf[VectorDotExpr]) { e =>
      val a = arity("vec_dot", 2, e); VectorDotExpr(a(0), a(1)) },
    native("int8_pack", classOf[Int8PackExpr]) { e =>
      val a = arity("int8_pack", 2, e); Int8PackExpr(a(0), a(1)) },
    native("int8_dot", classOf[Int8DotExpr]) { e =>
      val a = arity("int8_dot", 2, e); Int8DotExpr(a(0), a(1)) },
    native("phash_blocks", classOf[PhashExpr]) { e =>
      val a = arity("phash_blocks", 2, e)
      PhashExpr(a(0), intLiteral("phash_blocks nBits", a(1)))
    },
    native("band_keys", classOf[BandKeysExpr])(
      e => BandKeysExpr(arity("band_keys", 1, e).head)),
    native("minhash_sigs", classOf[MinhashSigsExpr])(
      e => MinhashSigsExpr(arity("minhash_sigs", 1, e).head)),
    native("nearest_cells", classOf[NearestCellsExpr]) { e =>
      val a = arity("nearest_cells", 4, e)
      NearestCellsExpr(a(0), a(1), a(2), intLiteral("nearest_cells p", a(3)))
    },
    native("span_fps", classOf[SpanFingerprintsExpr]) { e =>
      val a = arity("span_fps", 3, e)
      SpanFingerprintsExpr(a(0), intLiteral("span_fps window", a(1)),
        intLiteral("span_fps stride", a(2)))
    },
    macroFn("encode_plc_words",
      s"""if(length(__a0) = 0, cast(array() as array<int>),
         | transform(sequence(0, cast(length($Padded) / 2 as int) - 1),
         |  i -> cast(ascii(substr($Padded, 1 + i * 2, 1))
         |          + ascii(substr($Padded, 2 + i * 2, 1)) * 256 as int)))""".stripMargin),
    macroFn("expand_alternatives",
      """aggregate(split(__a0, ' '), array(''),
        |  (acc, t) -> flatten(transform(acc,
        |    a -> transform(split(t, '/'), alt -> concat(a, alt)))))""".stripMargin),
    macroFn("expand_block",
      """transform(sequence(0, cast(__a1 as int) - 1),
        |  i -> concat(regexp_replace(__a0, '[0-9]', ''),
        |    cast(cast(regexp_replace(__a0, '[^0-9]', '') as bigint) + i as string)))""".stripMargin),
    macroFn("shift_of", "if(hour(__a0) between 8 and 15, 1, 2)"),
    macroFn("plan_date_of", "if(hour(__a0) >= 8, to_date(__a0), date_sub(to_date(__a0), 1))"))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach(f => reg.createOrReplaceTempFunction(f.name, f.build, "scala_udf"))
  }
}
