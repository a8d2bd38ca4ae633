package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.{Column, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{
  TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{
  Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the engine's text-hash / vector kernels.
  *
  * Every scalar graft_* function is one [[KernelExpr]] driven by a
  * [[Kernel]] row of [[GraftFunctions.kernels]]. The row names a static
  * kernel on [[TextHash]]/[[VecOps]]/[[KmvBuffer]]; `doGenCode` emits that
  * single static call, so the expression participates in whole-stage
  * codegen (one compiled call per row) instead of falling back to
  * Catalyst's interpreted higher-order functions. Values are bit-identical
  * to the SQL folds they replace (see TextHash doc), which is what keeps
  * the DuckDB oracle hash-compare valid.
  *
  * Adding a kernel: write the static method, pin it bit-identical to the
  * form it replaces with a TextHashSpec property test, and add one row to
  * [[GraftFunctions.kernels]] (KernelContractSpec then asks for its
  * contract row). No expression class is needed.
  *
  * Library code calls a kernel through [[GraftFunctions.call]], e.g.
  * `call("graft_minhash_sig", col("text"))`, which builds the expression
  * directly and leaves the session's function registry alone. SQL-text
  * users install [[GraftExtensions]] or call [[GraftFunctions.register]]
  * once per session.
  */

/** One registry row: the SQL surface of a static kernel.
  *
  * @param name       SQL name, also the expression's prettyName
  * @param call       `Owner.method` in package graft.functions
  * @param args       one entry per method parameter
  * @param dataType   result type
  * @param nullable   the kernel can return null on non-null input; otherwise
  *                   the result is null exactly when an input is
  * @param doubleCall the double-element variant of a vector kernel (`call`
  *                   is the float one), chosen from the input element type;
  *                   every `In` of such a row is a vector of that one type
  * @param check      validation of the plan-time literal values, in order
  */
case class Kernel(name: String, call: String, args: Seq[Kernel.Arg],
    dataType: DataType, nullable: Boolean = false, doubleCall: String = "",
    check: Seq[Long] => Unit = _ => ())

object Kernel {
  /** One parameter of the static method. */
  sealed trait Arg

  /** A per-row input column. `sql` spells the accepted type in analysis
    * errors; `extra` is a further analysis-time check on the argument
    * (a message, or None when it holds).
    */
  case class In(sql: String, accepts: DataType => Boolean,
      extra: Expression => Option[String] = _ => None) extends Arg

  /** A plan-time literal (geometry, not per-row data), taken through
    * `intLit`, or `longLit` when `long`. `default` makes it an optional
    * trailing SQL argument.
    */
  case class Lit(name: String, long: Boolean = false,
      default: Option[Int] = None) extends Arg

  /** A constant the SQL surface does not expose. */
  case class Const(value: Int) extends Arg
}

/** The one scalar kernel expression: `children` line up with
  * `kernel.args`, plan-time literals included as [[Literal]]s, so codegen
  * inlines them as constants exactly like the per-row arguments.
  *
  * It prints as `graft_<name>(args…)` and its `sql` (hence an unaliased
  * column's name) lists the per-row inputs only. The static method is
  * resolved lazily and never serialized: the row carries names, not a
  * `java.lang.reflect.Method`, so the expression crosses an executor
  * boundary as plain data.
  */
case class KernelExpr(kernel: Kernel, children: Seq[Expression]) extends Expression {
  import Kernel.In

  override def prettyName: String = kernel.name
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.nullable || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] = children.iterator
  override def sql: String = s"$prettyName(${inputs.map(_._2.sql).mkString(", ")})"

  private def inputs: Seq[(In, Expression)] =
    kernel.args.zip(children).collect { case (in: In, c) => (in, c) }

  /** Session-registered and reachable from ad-hoc SQL: wrong types must
    * fail analysis with a named message, not a runtime ClassCastException
    * from inside the kernel. (`AbstractDataType` is private to Spark, so
    * ExpectsInputTypes is unavailable.)
    */
  override def checkInputDataTypes(): TypeCheckResult = {
    val ins = inputs
    def oneElementType = ins.map(_._2.dataType.asInstanceOf[ArrayType].elementType)
      .distinct.size == 1
    if (!ins.forall { case (in, c) => in.accepts(c.dataType) } ||
        (kernel.doubleCall.nonEmpty && !oneElementType))
      TypeCheckFailure(s"$prettyName expects (${ins.map(_._1.sql).mkString(", ")}), " +
        s"got (${ins.map(_._2.dataType.simpleString).mkString(", ")})")
    else ins.flatMap { case (in, c) => in.extra(c) }.headOption
      .fold[TypeCheckResult](TypeCheckSuccess)(m => TypeCheckFailure(s"$prettyName $m"))
  }

  /** `Owner.method` for this input: the double variant on double vectors. */
  private def target: String = children.head.dataType match {
    case ArrayType(DoubleType, _) if kernel.doubleCall.nonEmpty => kernel.doubleCall
    case _ => kernel.call
  }

  @transient private lazy val method: Method = {
    val Array(owner, name) = target.split('.')
    Class.forName(s"graft.functions.$owner")
      .getMethod(name, children.map(c => CodeGenerator.javaClass(c.dataType)): _*)
  }

  /** Null-intolerant like the codegen path: the first null input short-
    * circuits, so later inputs are not evaluated.
    */
  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length)
    val it = children.iterator
    var i = 0
    while (it.hasNext) {
      val v = it.next().eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try method.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  /** One static call. A boxed or reference result is null-checked into
    * `isNull`; the local holding it is a fresh name, so any number of
    * kernel calls share one generated method.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val call = s"graft.functions.$target(${gens.map(_.value).mkString(", ")})"
    val ret = method.getReturnType
    val unbox = if (CodeGenerator.isPrimitiveType(dataType) && !ret.isPrimitive)
      s".${CodeGenerator.javaType(dataType)}Value()" else ""
    val result = if (ret.isPrimitive || !nullable) s"${ev.value} = $call$unbox;" else {
      val r = ctx.freshName("kernelRes")
      s"""${CodeGenerator.typeName(ret)} $r = $call;
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r$unbox; }""".stripMargin
    }
    val decl = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (!nullable) ev.copy(isNull = FalseLiteral,
      code = code"${gens.map(_.code.toString).mkString("\n")}\n$decl\n$result")
    else {
      // each input's code runs only once the inputs before it are non-null
      val body = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$result") {
        case ((c, g), inner) =>
          s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull)(inner)}"
      }
      ev.copy(code = code"boolean ${ev.isNull} = true;\n$decl\n$body")
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** Custom Catalyst GENERATOR (the table-function rung next to the scalar
  * expressions above and the aggregates in [[KmvSketch]]): sliding
  * token windows of `n` tokens every `stride`, one output row per window.
  *
  * Why a Generator and not `explode(transform(sequence(...), ...))`: the
  * built-in form materializes the COMPLETE window array per input row
  * before exploding — a 1 M-token document with stride 4 builds a ~250 k
  * element array (each holding an n-token string slice) in executor
  * memory. A Generator's contract is an iterator: [[GenerateExec]] pulls
  * windows one at a time, so peak memory is one window regardless of
  * document size. That is the same stream-don't-materialize discipline as
  * m07's bounded tile explode, applied where the blow-up factor is
  * row-dependent. CodegenFallback is deliberate: GenerateExec's codegen
  * path only covers the explode family, and the per-window work (a slice
  * + join) dwarfs the virtual-call overhead.
  *
  * Token split is `split(" ", -1)` — empties kept, matching DuckDB's
  * string_split semantics (see TextHash doc for the shared contract).
  */
case class TokenWindowsExpr(child: Expression, n: Int, stride: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(n > 0 && stride > 0, "window size and stride must be positive")
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")
  override def elementSchema: StructType = StructType(Seq(
    StructField("win_idx", IntegerType, nullable = false),
    StructField("win_text", StringType, nullable = false)))
  override def prettyName: String = "graft_token_windows"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val toks = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString.split(" ", -1)
      Range(0, toks.length, stride).iterator.zipWithIndex.map {
        case (st, i) =>
          val win = toks.slice(st, math.min(st + n, toks.length))
            .mkString(" ")
          org.apache.spark.sql.catalyst.InternalRow(i,
            org.apache.spark.unsafe.types.UTF8String.fromString(win))
      }
    }
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Character n-gram GENERATOR: streams the len-n+1 sliding n-grams of a
  * string out of GenerateExec one at a time — the t18 trigram-LM feed. A
  * compiled single pass replaces the interpreted
  * `explode(transform(sequence(1, len-n+1), i -> substring(text, i, n)))`
  * HOF chain (measured 6× the oracle at sf0.1: one interpreted lambda +
  * UTF8String allocation per position, plus the materialized per-doc
  * position array this never builds). Code-point addressed, so semantics
  * match `substring` on any input, not just ASCII.
  */
case class CharGramsExpr(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(n > 0, "gram width must be positive")
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")
  override def elementSchema: StructType = StructType(Seq(
    StructField("g", StringType, nullable = false)))
  override def prettyName: String = "graft_char_grams"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val len = s.numChars()
      if (len < n) Iterator.empty
      else Iterator.range(0, len - n + 1).map { i =>
        org.apache.spark.sql.catalyst.InternalRow(s.substring(i, i + n))
      }
    }
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The engine's native functions: [[GraftFunctions.call]] for library
  * code, [[GraftFunctions.register]] for SQL text.
  */
object GraftFunctions {
  import Kernel.{Const, In, Lit}

  private def arr(t: DataType) = ArrayType(t, containsNull = false)
  private def struct(fields: (String, DataType)*) = StructType(fields.map {
    case (n, t) => StructField(n, t, nullable = false)
  })
  private def arrayOf(el: DataType) = In(s"array<${el.simpleString}>", {
    case ArrayType(t, _) => t == el
    case _ => false
  })
  private val str = In("string", _ == StringType)
  private val longs = arrayOf(LongType)
  private val strs = arrayOf(StringType)
  private val doubles = arrayOf(DoubleType)
  private val vec = In("array<float|double>", {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  })
  /** A k-means codebook: (cluster, cvec) structs. */
  private val cents = In("array<struct<int, array<double>>>", {
    case ArrayType(st: StructType, _) => st.length == 2 &&
      st(0).dataType == IntegerType && doubles.accepts(st(1).dataType)
    case _ => false
  })
  /** The merged language-id artifact: one (w, packed SORTED, li parallel
    * language index) struct per distinct gram byte width.
    */
  private val profiles = In("array<struct<int, array<bigint>, array<int>>>", {
    case ArrayType(st: StructType, _) => st.length == 3 &&
      st(0).dataType == IntegerType &&
      longs.accepts(st(1).dataType) &&
      arrayOf(IntegerType).accepts(st(2).dataType)
    case _ => false
  })
  /** A per-row int width that must be >= 1 when foldable: the kernel's
    * documented SQL equivalence divides by it, so w < 1 has no defined
    * meaning — reject it at analysis rather than silently return one
    * whole-text result. (Non-foldable widths are guarded in the kernel.)
    */
  private def width(what: String) = In("int", _ == IntegerType, e =>
    if (e.foldable && { val v = e.eval(); v != null && v.asInstanceOf[Int] < 1 })
      Some(s"$what must be >= 1")
    else None)

  /** Every scalar graft_* function. Result nulls beyond null-in/null-out
    * are the kernel's answer for input it cannot score: too few tokens,
    * codepoints or bytes for one gram or window, mismatched lengths, a
    * zero norm or an empty codebook.
    */
  val kernels: Seq[Kernel] = Seq(
    Kernel("graft_poly_hash", "TextHash.polyHash", Seq(str), LongType),
    Kernel("graft_token_hashes", "TextHash.tokenHashes", Seq(str), arr(LongType)),
    // null when the text has < 2 tokens (no bigram shingles)
    Kernel("graft_minhash_sig", "TextHash.minHashSig", Seq(str), arr(LongType),
      nullable = true),
    // null when the text has < 5 tokens (no 5-grams)
    Kernel("graft_gram5_distinct", "TextHash.gram5Distinct", Seq(str), arr(LongType),
      nullable = true),
    // positional word-n-gram chain (array index = 0-based token offset, the
    // geometry d21's span verify consumes); `n` is the span threshold, a
    // plan-time constant. Null when the text has < n tokens.
    Kernel("graft_gram_chain", "TextHash.gramChain", Seq(str, Lit("n")), arr(LongType),
      nullable = true,
      check = { case Seq(n) => require(n >= 1, s"graft_gram_chain n=$n out of range") }),
    // winnowing anchors: the distinct window-minimum (pos, gram) pairs over
    // the word-n-gram chain — d23's w×-cheaper blocking key with the
    // span ≥ n+w−1 completeness theorem. Null below n + w − 1 tokens.
    Kernel("graft_winnow", "TextHash.winnow", Seq(str, Lit("n"), Lit("w")),
      arr(struct("p" -> IntegerType, "g" -> LongType)), nullable = true,
      check = { case Seq(n, w) =>
        require(n >= 1 && w >= 1, s"graft_winnow n=$n w=$w out of range") }),
    // distinct-hit count against a SORTED broadcast snapshot (s33's hot
    // path): bit-equal to size(array_intersect(gs, snap)) under the
    // sorted-distinct snapshot contract
    Kernel("graft_sorted_hits", "TextHash.sortedHits", Seq(longs, longs), IntegerType,
      nullable = true),
    // the approximate counterpart over a broadcast BLOOM word array (d27/
    // s35): `k` probes, no false negatives, measured false positives (d28)
    Kernel("graft_bloom_hits", "TextHash.bloomHits", Seq(longs, longs, Lit("k")),
      IntegerType, nullable = true, check = { case Seq(k) =>
        require(k >= 1 && k <= 16, s"graft_bloom_hits k=$k out of range [1, 16]") }),
    Kernel("graft_simhash", "TextHash.simHash", Seq(str), LongType),
    Kernel("graft_rep_stats", "TextHash.repStats", Seq(str), struct(
      "n_tokens" -> IntegerType, "n_uniq_tokens" -> IntegerType,
      "top_tok_n" -> IntegerType, "top_bigram_n" -> IntegerType)),
    Kernel("graft_passages", "TextHash.passages", Seq(str, width("passage width")),
      arr(StringType)),
    // null when the text has < 4 codepoints (no full quarters)
    Kernel("graft_quarter_means", "TextHash.quarterMeans", Seq(str), arr(DoubleType),
      nullable = true),
    Kernel("graft_edge_ngrams", "TextHash.edgeNgramStats", Seq(str), struct(
      "n_grams" -> IntegerType, "n_uniq_grams" -> IntegerType,
      "first5_grams" -> StringType)),
    // null on length mismatch (and, for cos, zero norm)
    Kernel("graft_dot", "VecOps.dotF", Seq(vec, vec), DoubleType, nullable = true,
      doubleCall = "VecOps.dotD"),
    Kernel("graft_cos", "VecOps.cosF", Seq(vec, vec), DoubleType, nullable = true,
      doubleCall = "VecOps.cosD"),
    // squared L2, the x11 k-means assignment kernel: one compiled call per
    // (row, centroid) instead of two interpreted aggregate(zip_with(...))
    // folds — the same sequential fold, so bit-identical to the oracle twin
    Kernel("graft_l2", "VecOps.d2F", Seq(vec, vec), DoubleType, nullable = true,
      doubleCall = "VecOps.d2D"),
    // one IVF-PQ asymmetric-distance term: encode r's subspace window
    // against the codebook and score rqe's window against the chosen
    // codeword in ONE kernel (VecOps.adcTermD has the value contract).
    // off/len are plan-time constants like lsh_bucket's bits: the subspace
    // layout is index geometry, not per-row data.
    Kernel("graft_adc_term", "VecOps.adcTermD",
      Seq(doubles, doubles, cents, Lit("off"), Lit("len")), DoubleType, nullable = true,
      check = { case Seq(off, len) => require(off >= 0 && len >= 1,
        s"graft_adc_term off=$off len=$len out of range") }),
    // the k-means assignment argmin, the Lloyd hot path (VecOps.bestCellD;
    // graft.ext.Similarity.bestCell is the one shared call)
    Kernel("graft_best_cell", "VecOps.bestCellD", Seq(doubles, cents),
      struct("dd" -> DoubleType, "c" -> IntegerType), nullable = true),
    // encode-only subspace argmin (x18's flat-PQ code_s): the cluster id of
    // the (dd, cluster)-argmin codeword for the [off, off+len) window
    Kernel("graft_code", "VecOps.codeD", Seq(doubles, cents, Lit("off"), Lit("len")),
      IntegerType, nullable = true, check = { case Seq(off, len) =>
        require(off >= 0 && len >= 1, s"graft_code off=$off len=$len out of range") }),
    // INT8 symmetric scalar quantization codes, the x09/x10 hot path as one
    // compiled pass per vector instead of interpreted transform/array_max
    // lambdas (measured ~6× on the sf1 embeddings). Null for a zero vector.
    Kernel("graft_q127", "VecOps.q127F", Seq(vec), arr(LongType), nullable = true,
      doubleCall = "VecOps.q127D"),
    // exact int64 dot of two code arrays; null on length mismatch
    Kernel("graft_doti", "VecOps.dotI", Seq(longs, longs), LongType, nullable = true),
    // m09's difference hash over stride-sampled payload bytes; null when the
    // payload is shorter than bits+1 bytes
    Kernel("graft_dhash", "TextHash.dHash", Seq(str, Lit("bits")), LongType,
      nullable = true, check = { case Seq(bits) =>
        require(bits >= 1 && bits <= 62, s"graft_dhash bits=$bits out of range") }),
    // d29/m10's 4×15-bit packed byte-k-gram min-hash; null below k bytes
    Kernel("graft_byte_minhash", "TextHash.byteMinhash", Seq(str, Lit("k")), LongType,
      nullable = true, check = { case Seq(k) =>
        require(k >= 1 && k <= 64, s"graft_byte_minhash k=$k out of range") }),
    // d29's untruncated signature: [0..3] = the m10 blocks BEFORE 15-bit
    // truncation (block-key width becomes a join-time knob), [4..n) = the
    // verify-sketch mixes. Null below k bytes.
    Kernel("graft_byte_minhash_arr", "TextHash.byteMinhashArr",
      Seq(str, Lit("k"), Lit("n")), arr(LongType), nullable = true,
      check = { case Seq(k, n) =>
        require(k >= 1 && k <= 64, s"graft_byte_minhash_arr k=$k out of range")
        require(n >= 1 && n <= 20, s"graft_byte_minhash_arr n=$n out of range") }),
    // byte-level twin of graft_gram_chain: d29's exact Jaccard verify input
    Kernel("graft_byte_grams", "TextHash.byteGramChain", Seq(str, Lit("k")),
      arr(LongType), nullable = true, check = { case Seq(k) =>
        require(k >= 1 && k <= 64, s"graft_byte_grams k=$k out of range") }),
    // t21's profile hit count: n-byte windows equal to any profile gram
    Kernel("graft_gram_hits", "TextHash.gramHits", Seq(str, strs), IntegerType),
    // gram → big-endian packed long: the merged language-id artifact's
    // plan-time pre-pack
    Kernel("graft_pack_gram", "TextHash.packGram", Seq(str), LongType),
    // all-languages scorer: one rolling byte scan per DISTINCT gram width,
    // flat in language count (see the kernel's scaladoc for the scale law)
    Kernel("graft_gram_hits_all", "TextHash.gramHitsAll",
      Seq(str, profiles, Lit("nlangs")), arr(IntegerType), check = { case Seq(nl) =>
        require(nl >= 1 && nl <= 4096,
          s"graft_gram_hits_all nlangs=$nl out of range [1, 4096]") }),
    // t18's char-n-gram model buckets; `m` is Long-ranged in the Scala API
    // (TextOps.trigramFamiliarity), hence longLit. Null below n codepoints.
    Kernel("graft_gram_buckets", "TextHash.gramBuckets",
      Seq(str, Lit("n"), Lit("m", long = true)), arr(LongType), nullable = true,
      check = { case Seq(n, m) =>
        require(n >= 1 && n <= 64, s"graft_gram_buckets n=$n out of range [1, 64]")
        require(m >= 1, s"graft_gram_buckets m=$m must be positive") }),
    // whole-document trigram-LM scoring against the broadcast SORTED model
    // (bs buckets, cs counts). Null below n codepoints: the exploded twin
    // emitted no rows for such docs.
    Kernel("graft_lm_familiarity", "TextHash.lmFamiliarity",
      Seq(str, Lit("n"), Lit("m", long = true), longs, longs),
      struct("n_tris" -> LongType, "familiarity" -> LongType), nullable = true,
      check = { case Seq(n, m) =>
        require(n >= 1 && n <= 64, s"graft_lm_familiarity n=$n out of range [1, 64]")
        require(m >= 1, s"graft_lm_familiarity m=$m must be positive") }),
    // m05's one-pass strided-sample thumbnail; the HOF form it replaces
    // re-hexed the whole text per sampled byte
    Kernel("graft_thumb", "TextHash.thumbHex", Seq(str, width("byte budget")),
      StringType),
    // m07's fixed-width hex tiles; the HOF form materialized the full hex
    // string per row and sliced it with an interpreted lambda per tile
    Kernel("graft_hex_tiles", "TextHash.hexTiles", Seq(str, width("tile byte width")),
      arr(StringType)),
    // t09's blocklist scrub + per-term counts in one byte scan; field names
    // derive from TextHash.blockTerms so kernel and query can't drift
    Kernel("graft_block_scrub", "TextHash.blockScrub", Seq(str), struct(
      TextHash.blockTerms.map(t =>
        ("n_" + t.toLowerCase.replaceAll("[^a-z0-9]+", "_")) -> IntegerType) ++
        Seq("n_hits" -> IntegerType, "scrub" -> StringType): _*)),
    // t03's token stats: regexp_extract_all('[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')
    // counts + the whitespace-split size in one byte scan
    Kernel("graft_bpeish_stats", "TextHash.bpeishStats", Seq(str), struct(
      "n_bpeish" -> IntegerType, "n_uniq_bpeish" -> IntegerType,
      "n_ws_tokens" -> IntegerType)),
    // t14's passage scrub against a broadcast SORTED lexicon
    Kernel("graft_scrub_passages", "TextHash.scrubPassages", Seq(str, Lit("w"), strs),
      struct("clean_text" -> StringType, "n_removed" -> LongType),
      check = { case Seq(w) => require(w >= 1, s"graft_scrub_passages w=$w must be >= 1") }),
    // t15's df score over the row's DISTINCT tokens against the broadcast
    // model — parallel SORTED ts (tokens) / ds (doc freqs); misses
    // contribute nothing (the inner-join contract)
    Kernel("graft_tok_df", "TextHash.tokDf", Seq(str, strs, longs),
      struct("n_toks" -> LongType, "sum_df" -> LongType)),
    // t17's OOV counters over every token occurrence against the broadcast
    // SORTED top-K vocabulary
    Kernel("graft_oov_stats", "TextHash.oovStats", Seq(str, strs),
      struct("n_tokens" -> LongType, "n_oov" -> LongType)),
    // t07/d12's normalization tail over ALREADY lowercased input: one byte
    // pass replacing two regexp_replace passes
    Kernel("graft_norm_text", "TextHash.normText", Seq(str), StringType),
    // bit-identical to array_distinct(split(text, ' ')) in one fused pass
    Kernel("graft_distinct_tokens", "TextHash.distinctTokens", Seq(str), arr(StringType)),
    // one BPE merge round; a/b usually come from the broadcast 1-row winner,
    // so they are columns, not literals
    Kernel("graft_bpe_merge", "TextHash.bpeMerge", Seq(strs, str, str), arr(StringType)),
    // t01's per-language marker scores in one byte scan; field names derive
    // from TextHash.langMarkers
    Kernel("graft_lang_scores", "TextHash.langScores", Seq(str),
      struct(TextHash.langMarkers.map { case (l, _) => s"s_$l" -> LongType }: _*)),
    // bit-identical to array_distinct(graft_passages(text, w)) in one pass
    Kernel("graft_passages_distinct", "TextHash.passagesDistinct", Seq(str, Lit("w")),
      arr(StringType), check = { case Seq(w) =>
        require(w >= 1, s"graft_passages_distinct w=$w must be >= 1") }),
    // t02's quality counters in one byte scan
    Kernel("graft_quality_stats", "TextHash.qualityStats", Seq(str), struct(
      "n_space" -> IntegerType, "n_punct" -> IntegerType, "n_stop" -> IntegerType)),
    // `bits` is a plan-time constant, not a child expression: plane count
    // shapes the physical candidate volume, and a per-row-varying width has
    // no meaning for a blocking key. Higher bits refine lower
    // (VecOps.lshBucket doc), which lets callers raise it with corpus size.
    // 0 planes = every vector in one cell (quadratic blocking); > 30 planes
    // overflow the Int bucket (1 << 32 wraps to bit 0 and silently breaks
    // the higher-bits-refine-lower law).
    Kernel("graft_lsh_bucket", "VecOps.lshBucket",
      Seq(vec, Lit("bits", default = Some(8))), IntegerType,
      doubleCall = "VecOps.lshBucketD", check = { case Seq(bits) =>
        require(bits >= 1 && bits <= 30,
          s"graft_lsh_bucket bits=$bits out of range [1, 30]") }),
    // KMV set-union estimate over two serialized sketch columns: sketch
    // algebra without the raw data
    Kernel("graft_kmv_union_est", "KmvBuffer.unionEstimate",
      Seq(In("binary", _ == BinaryType), In("binary", _ == BinaryType), Const(64)),
      DoubleType))


  /** Plan-time int-literal extraction for trailing geometry args (subspace
    * offsets/widths, band counts). These functions are registered
    * session-wide where ad-hoc SQL can reach them, and the bare
    * `eval(null).asInstanceOf[Int]` this replaces threw an opaque
    * NPE/ClassCastException from inside function resolution on a column
    * reference or a Long literal (round-13 advice) — reject non-foldable
    * or non-int args with an AnalysisException naming the function and
    * the constraint instead.
    */
  private def intLit(fn: String, arg: String, e: Expression): Int = {
    def fail(got: String): Nothing = analysisError(
      s"$fn: argument <$arg> must be a foldable INT literal " +
        s"(plan-time geometry, not per-row data); got $got")
    if (!e.foldable) fail(s"non-foldable expression ${e.sql}")
    else if (e.dataType != IntegerType) fail(s"type ${e.dataType.simpleString}")
    else e.eval(null) match {
      case i: Int => i
      case _ => fail("NULL")
    }
  }

  /** Long-geometry variant of intLit: accepts a foldable INT or BIGINT
    * literal. graft_gram_buckets / graft_lm_familiarity take a bucket
    * count that is Long-ranged in the Scala API (TextOps.trigramFamiliarity
    * signature); forcing it through intLit silently shrank the accepted
    * range to Int (round-20 advice) — restore the full Long range here.
    */
  private def longLit(fn: String, arg: String, e: Expression): Long = {
    def fail(got: String): Nothing = analysisError(
      s"$fn: argument <$arg> must be a foldable INT or BIGINT literal " +
        s"(plan-time geometry, not per-row data); got $got")
    if (!e.foldable) fail(s"non-foldable expression ${e.sql}")
    else if (e.dataType != IntegerType && e.dataType != LongType)
      fail(s"type ${e.dataType.simpleString}")
    else e.eval(null) match {
      case i: Int  => i.toLong
      case l: Long => l
      case _ => fail("NULL")
    }
  }

  /** Arity gate for the registration lambdas: every builder below indexes
    * `cs(i)` positionally, so ad-hoc SQL calling with too few args hit an
    * opaque IndexOutOfBoundsException from inside function resolution
    * (round-14 advice) — reject with the same named AnalysisException
    * intLit raises. `maxN` covers the optional-trailing-arg forms
    * (graft_lsh_bucket's bits defaulting).
    */
  private def arity(fn: String, n: Int, maxN: Int = -1)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression = {
    val hi = if (maxN < 0) n else maxN
    cs =>
      if (cs.length >= n && cs.length <= hi) b(cs)
      else analysisError(s"$fn expects " +
        (if (hi == n) s"$n argument(s)" else s"$n to $hi arguments") +
        s", got ${cs.length}")
  }

  private def analysisError(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "_LEGACY_ERROR_TEMP_3102", Map("msg" -> msg)) // bare `<msg>` template

  /** A registry row's function builder: the SQL arguments become the
    * kernel's children, plan-time literals validated (intLit/longLit, then
    * the row's `check`) before the expression exists.
    */
  private def build(k: Kernel)(cs: Seq[Expression]): Expression = {
    val given = cs.iterator
    val children = k.args.map {
      case _: In => given.next()
      case Lit(_, _, Some(d)) if !given.hasNext => Literal(d)
      case Lit(arg, false, _) => Literal(intLit(k.name, arg, given.next()))
      case Lit(arg, true, _) => Literal(longLit(k.name, arg, given.next()))
      case Const(v) => Literal(v)
    }
    k.check(k.args.zip(children).collect {
      case (_: Lit, l: Literal) => l.value.asInstanceOf[Number].longValue
    })
    KernelExpr(k, children)
  }

  val fns: Seq[(String, Seq[Expression] => Expression)] = kernels.map { k =>
    val n = k.args.count { case _: In | Lit(_, _, None) => true; case _ => false }
    val optional = k.args.count { case Lit(_, _, Some(_)) => true; case _ => false }
    k.name -> arity(k.name, n, n + optional)(build(k))
  } ++ Seq(
    // mergeable KMV distinct sketch (analyzer wraps the raw AggregateFunction)
    "graft_kmv"          -> arity("graft_kmv", 1)(cs => KmvSketchAgg(cs.head, 64)),
    // mergeable k-means centroid accumulator; trailing k is an int literal
    "graft_centroids"    -> arity("graft_centroids", 3)(cs => CentroidSumAgg(cs(0), cs(1),
      intLit("graft_centroids", "k", cs(2)))),
    // generators (table functions): trailing args must be int literals
    "graft_token_windows" -> arity("graft_token_windows", 3)(cs => TokenWindowsExpr(cs(0),
      intLit("graft_token_windows", "width", cs(1)),
      intLit("graft_token_windows", "stride", cs(2)))),
    "graft_char_grams"   -> arity("graft_char_grams", 2)(cs => CharGramsExpr(cs(0),
      intLit("graft_char_grams", "n", cs(1))))
  )

  private lazy val builders = fns.toMap

  /** The kernel `name` applied to `args`, built by the same builder SQL
    * resolves through the registry (arity gate, plan-time literal checks),
    * so the plan and values match the SQL spelling, and the session's
    * function registry is never touched. Plan-time geometry is passed as
    * `lit(n)`. An aggregate is wrapped as the analyzer wraps it for SQL.
    */
  def call(name: String, args: Column*): Column = {
    val builder = builders.getOrElse(name,
      analysisError(s"$name is not a graft function"))
    GraftPlanBridge.column(builder(args.map(GraftPlanBridge.expression)) match {
      case agg: AggregateFunction => agg.toAggregateExpression()
      case e => e
    })
  }

  /** SQL-text surface: every graft_* function in this session's registry.
    * Idempotent; library code needs neither this nor [[GraftExtensions]].
    */
  def register(spark: SparkSession): Unit = fns.foreach { case (name, builder) =>
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name),
      new ExpressionInfo("graft.functions.GraftExpressions", name),
      builder)
  }
}

/** Library entry point for session-builder wiring: sessions created with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) expose every graft_* function in
  * SQL without an explicit register() call.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.fns.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftExpressions", name),
        builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKFilterPushdown)
  }
}
