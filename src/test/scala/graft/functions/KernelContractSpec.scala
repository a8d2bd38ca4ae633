package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** One SQL call shape of a scalar kernel, with the contract it keeps.
  *
  * `args` is the SQL argument list; `@x` names a fixture column — rendered
  * as `x` (non-nullable), its twin `x2` (same value, distinct attribute) or
  * `n_x` (same value, nullable). `dataType`/`nullable` are the analyzed
  * result type and nullability over non-nullable and over nullable inputs;
  * `direct` is the same value computed by calling the kernel itself.
  */
case class KernelCall(name: String, args: String, dataType: String,
    nullable: (Boolean, Boolean), direct: KernelFixture => Any) {
  def sql(col: String => String): String =
    s"$name(${"@(\\w+)".r.replaceAllIn(args, m => col(m.group(1)))})"
  override def toString: String = s"$name($args)"
}

/** The one-row fixture every kernel call reads, checkpointed so that the
  * optimizer can neither constant-fold the calls nor drop column
  * nullability. `row` holds the same values as Catalyst internals.
  */
final class KernelFixture(spark: SparkSession) {
  private def packed(g: String) = TextHash.packGram(UTF8String.fromString(g))
  private val cols: Seq[(String, String)] = Seq(
    "s" -> "'the quick brown fox jumps over the lazy dog and the fox runs home'",
    "g" -> "'the'",
    "i" -> "2",
    "vf" -> Seq("0.5", "-1.25", "2.0", "0.75")
      .map(v => s"CAST($v AS FLOAT)").mkString("array(", ", ", ")"),
    "vd" -> "array(0.5d, -1.25d, 2.0d, 0.75d)",
    "la" -> "array(3L, 17L, 42L)",
    "sa" -> "array('brown', 'fox', 'the')",
    "gr" -> "array('dog', 'fox', 'the')",
    "b" -> "X'00000000000000070000000000000009'",
    "cents" -> ("array(named_struct('c', 0, 'v', array(1.0d, 0.0d, 0.0d, 0.0d)), " +
      "named_struct('c', 1, 'v', array(0.0d, -1.0d, 2.0d, 1.0d)))"),
    "profs" -> (s"array(named_struct('w', 3, 'packed', array(${packed("fox")}L, " +
      s"${packed("the")}L), 'li', array(0, 0)))"))

  val df: DataFrame = spark.range(1).selectExpr(cols.flatMap { case (c, v) =>
    Seq(s"$v AS $c", s"$v AS ${c}2", s"IF(id < 0, NULL, $v) AS n_$c")
  }: _*).localCheckpoint()

  val row: InternalRow = df.queryExecution.toRdd.first().copy()
  private def at(c: String) = df.schema.fieldIndex(c)
  def s: UTF8String = row.getUTF8String(at("s"))
  def g: UTF8String = row.getUTF8String(at("g"))
  def i: Int = row.getInt(at("i"))
  def vf: ArrayData = row.getArray(at("vf"))
  def vd: ArrayData = row.getArray(at("vd"))
  def la: ArrayData = row.getArray(at("la"))
  def sa: ArrayData = row.getArray(at("sa"))
  def gr: ArrayData = row.getArray(at("gr"))
  def b: Array[Byte] = row.getBinary(at("b"))
  def cents: ArrayData = row.getArray(at("cents"))
  def profs: ArrayData = row.getArray(at("profs"))
}

object KernelContract {
  private val (t, f) = (true, false)
  private val childNull = (f, t) // nullable exactly when an input is
  private val always = (t, t)    // the kernel itself can return null

  /** Every scalar graft_* function, vector kernels over both element types. */
  val calls: Seq[KernelCall] = Seq(
    KernelCall("graft_poly_hash", "@s", "bigint", childNull, x => TextHash.polyHash(x.s)),
    KernelCall("graft_token_hashes", "@s", "array<bigint>", childNull,
      x => TextHash.tokenHashes(x.s)),
    KernelCall("graft_minhash_sig", "@s", "array<bigint>", always,
      x => TextHash.minHashSig(x.s)),
    KernelCall("graft_gram5_distinct", "@s", "array<bigint>", always,
      x => TextHash.gram5Distinct(x.s)),
    KernelCall("graft_gram_chain", "@s, 3", "array<bigint>", always,
      x => TextHash.gramChain(x.s, 3)),
    KernelCall("graft_sorted_hits", "@la, @la", "int", always,
      x => TextHash.sortedHits(x.la, x.la)),
    KernelCall("graft_bloom_hits", "@la, @la, 3", "int", always,
      x => TextHash.bloomHits(x.la, x.la, 3)),
    KernelCall("graft_winnow", "@s, 3, 2", "array<struct<p:int,g:bigint>>", always,
      x => TextHash.winnow(x.s, 3, 2)),
    KernelCall("graft_simhash", "@s", "bigint", childNull, x => TextHash.simHash(x.s)),
    KernelCall("graft_rep_stats", "@s",
      "struct<n_tokens:int,n_uniq_tokens:int,top_tok_n:int,top_bigram_n:int>",
      childNull, x => TextHash.repStats(x.s)),
    KernelCall("graft_passages", "@s, @i", "array<string>", childNull,
      x => TextHash.passages(x.s, x.i)),
    KernelCall("graft_quarter_means", "@s", "array<double>", always,
      x => TextHash.quarterMeans(x.s)),
    KernelCall("graft_edge_ngrams", "@s",
      "struct<n_grams:int,n_uniq_grams:int,first5_grams:string>", childNull,
      x => TextHash.edgeNgramStats(x.s)),
    KernelCall("graft_dot", "@vf, @vf", "double", always, x => VecOps.dotF(x.vf, x.vf)),
    KernelCall("graft_dot", "@vd, @vd", "double", always, x => VecOps.dotD(x.vd, x.vd)),
    KernelCall("graft_cos", "@vf, @vf", "double", always, x => VecOps.cosF(x.vf, x.vf)),
    KernelCall("graft_cos", "@vd, @vd", "double", always, x => VecOps.cosD(x.vd, x.vd)),
    KernelCall("graft_l2", "@vf, @vf", "double", always, x => VecOps.d2F(x.vf, x.vf)),
    KernelCall("graft_l2", "@vd, @vd", "double", always, x => VecOps.d2D(x.vd, x.vd)),
    KernelCall("graft_adc_term", "@vd, @vd, @cents, 0, 4", "double", always,
      x => VecOps.adcTermD(x.vd, x.vd, x.cents, 0, 4)),
    KernelCall("graft_best_cell", "@vd, @cents", "struct<dd:double,c:int>", always,
      x => VecOps.bestCellD(x.vd, x.cents)),
    KernelCall("graft_code", "@vd, @cents, 0, 4", "int", always,
      x => VecOps.codeD(x.vd, x.cents, 0, 4)),
    KernelCall("graft_q127", "@vf", "array<bigint>", always, x => VecOps.q127F(x.vf)),
    KernelCall("graft_q127", "@vd", "array<bigint>", always, x => VecOps.q127D(x.vd)),
    KernelCall("graft_doti", "@la, @la", "bigint", always, x => VecOps.dotI(x.la, x.la)),
    KernelCall("graft_dhash", "@s, 8", "bigint", always, x => TextHash.dHash(x.s, 8)),
    KernelCall("graft_byte_minhash", "@s, 4", "bigint", always,
      x => TextHash.byteMinhash(x.s, 4)),
    KernelCall("graft_byte_minhash_arr", "@s, 4, 6", "array<bigint>", always,
      x => TextHash.byteMinhashArr(x.s, 4, 6)),
    KernelCall("graft_byte_grams", "@s, 4", "array<bigint>", always,
      x => TextHash.byteGramChain(x.s, 4)),
    KernelCall("graft_gram_hits", "@s, @gr", "int", childNull,
      x => TextHash.gramHits(x.s, x.gr)),
    KernelCall("graft_pack_gram", "@g", "bigint", childNull, x => TextHash.packGram(x.g)),
    KernelCall("graft_gram_hits_all", "@s, @profs, 1", "array<int>", childNull,
      x => TextHash.gramHitsAll(x.s, x.profs, 1)),
    KernelCall("graft_gram_buckets", "@s, 3, 1000", "array<bigint>", always,
      x => TextHash.gramBuckets(x.s, 3, 1000L)),
    KernelCall("graft_lm_familiarity", "@s, 3, 1000, @la, @la",
      "struct<n_tris:bigint,familiarity:bigint>", always,
      x => TextHash.lmFamiliarity(x.s, 3, 1000L, x.la, x.la)),
    KernelCall("graft_thumb", "@s, @i", "string", childNull, x => TextHash.thumbHex(x.s, x.i)),
    KernelCall("graft_hex_tiles", "@s, @i", "array<string>", childNull,
      x => TextHash.hexTiles(x.s, x.i)),
    KernelCall("graft_block_scrub", "@s", TextHash.blockTerms.map(t =>
      "n_" + t.toLowerCase.replaceAll("[^a-z0-9]+", "_") + ":int")
      .mkString("struct<", ",", ",n_hits:int,scrub:string>"), childNull,
      x => TextHash.blockScrub(x.s)),
    KernelCall("graft_bpeish_stats", "@s",
      "struct<n_bpeish:int,n_uniq_bpeish:int,n_ws_tokens:int>", childNull,
      x => TextHash.bpeishStats(x.s)),
    KernelCall("graft_scrub_passages", "@s, 2, @sa",
      "struct<clean_text:string,n_removed:bigint>", childNull,
      x => TextHash.scrubPassages(x.s, 2, x.sa)),
    KernelCall("graft_tok_df", "@s, @sa, @la", "struct<n_toks:bigint,sum_df:bigint>",
      childNull, x => TextHash.tokDf(x.s, x.sa, x.la)),
    KernelCall("graft_oov_stats", "@s, @sa", "struct<n_tokens:bigint,n_oov:bigint>",
      childNull, x => TextHash.oovStats(x.s, x.sa)),
    KernelCall("graft_norm_text", "@s", "string", childNull, x => TextHash.normText(x.s)),
    KernelCall("graft_distinct_tokens", "@s", "array<string>", childNull,
      x => TextHash.distinctTokens(x.s)),
    KernelCall("graft_bpe_merge", "@gr, @g, @g", "array<string>", childNull,
      x => TextHash.bpeMerge(x.gr, x.g, x.g)),
    KernelCall("graft_lang_scores", "@s", TextHash.langMarkers.map { case (l, _) =>
      s"s_$l:bigint" }.mkString("struct<", ",", ">"), childNull,
      x => TextHash.langScores(x.s)),
    KernelCall("graft_passages_distinct", "@s, 2", "array<string>", childNull,
      x => TextHash.passagesDistinct(x.s, 2)),
    KernelCall("graft_quality_stats", "@s", "struct<n_space:int,n_punct:int,n_stop:int>",
      childNull, x => TextHash.qualityStats(x.s)),
    KernelCall("graft_lsh_bucket", "@vf", "int", childNull, x => VecOps.lshBucket(x.vf, 8)),
    KernelCall("graft_lsh_bucket", "@vd, 12", "int", childNull,
      x => VecOps.lshBucketD(x.vd, 12)),
    KernelCall("graft_kmv_union_est", "@b, @b", "double", childNull,
      x => KmvBuffer.unionEstimate(x.b, x.b, 64)))

  /** `c` with its first input swapped for a column of another type. */
  def wrongTyped(c: KernelCall): KernelCall = {
    val first = "@(\\w+)".r.findFirstMatchIn(c.args).get
    val wrongArg = if (Set("s", "g")(first.group(1))) "@i" else "@s"
    c.copy(args = c.args.patch(first.start, wrongArg, first.end - first.start))
  }

  /** Kernels the engine did not type-check at analysis before the registry
    * form; a wrong-typed call still failed, only at execution.
    */
  val checkedLate = Set("graft_adc_term", "graft_best_cell", "graft_code")

  /** The registered names that are not scalar kernels. */
  val nonScalar: Set[String] =
    Set("graft_kmv", "graft_centroids", "graft_token_windows", "graft_char_grams")
}

/** The behaviour contract of every scalar graft_* kernel at the SQL
  * surface: result type and nullability, analysis-time rejection of
  * wrong-typed calls and of out-of-range plan-time literals, and survival
  * of a Java-serialized projection (the executor boundary).
  */
class KernelContractSpec extends graft.SparkSpec {
  import KernelContract._

  private lazy val fx = { GraftFunctions.register(spark); new KernelFixture(spark) }

  test("the table covers every scalar function in the registry") {
    val registered = GraftFunctions.fns.map(_._1).toSet -- nonScalar
    assert(calls.map(_.name).toSet === registered)
  }

  test("result type and nullability over non-nullable and nullable inputs") {
    for (c <- calls) {
      val df = fx.df.selectExpr(c.sql(identity), c.sql("n_" + _))
      val got = df.schema.fields.map(fl => (fl.dataType.simpleString, fl.nullable))
      assert(got.toSeq === Seq((c.dataType, c.nullable._1), (c.dataType, c.nullable._2)),
        c.toString)
    }
  }

  test("a wrong-typed call fails analysis naming the function") {
    for (c <- calls.groupBy(_.name).values.map(_.head)) {
      val wrong = wrongTyped(c)
      val e = intercept[Exception](fx.df.selectExpr(wrong.sql(identity)).collect())
      if (!checkedLate(c.name)) {
        assert(e.isInstanceOf[AnalysisException], s"$wrong: $e")
        assert(e.getMessage.contains(c.name), wrong.toString)
      }
    }
  }

  private val IAE = "java.lang.IllegalArgumentException"
  private val AE = "org.apache.spark.sql.AnalysisException"
  private val EAE = "org.apache.spark.sql.catalyst.ExtendedAnalysisException"

  private val geometry = "(plan-time geometry, not per-row data)"

  /** (call, exception class, message text): the rejection a caller sees,
    * pinned verbatim.
    */
  private val literalErrors: Seq[(String, String, String)] = Seq(
    ("graft_gram_chain(@s, 0)", IAE,
      "requirement failed: graft_gram_chain n=0 out of range"),
    ("graft_bloom_hits(@la, @la, 17)", IAE,
      "requirement failed: graft_bloom_hits k=17 out of range [1, 16]"),
    ("graft_winnow(@s, 3, 0)", IAE,
      "requirement failed: graft_winnow n=3 w=0 out of range"),
    ("graft_adc_term(@vd, @vd, @cents, -1, 4)", IAE,
      "requirement failed: graft_adc_term off=-1 len=4 out of range"),
    ("graft_code(@vd, @cents, 0, 0)", IAE,
      "requirement failed: graft_code off=0 len=0 out of range"),
    ("graft_lsh_bucket(@vf, 31)", IAE,
      "requirement failed: graft_lsh_bucket bits=31 out of range [1, 30]"),
    ("graft_lsh_bucket(@vf, 0)", IAE,
      "requirement failed: graft_lsh_bucket bits=0 out of range [1, 30]"),
    ("graft_dhash(@s, 63)", IAE,
      "requirement failed: graft_dhash bits=63 out of range"),
    ("graft_byte_minhash(@s, 65)", IAE,
      "requirement failed: graft_byte_minhash k=65 out of range"),
    ("graft_byte_minhash_arr(@s, 0, 6)", IAE,
      "requirement failed: graft_byte_minhash_arr k=0 out of range"),
    ("graft_byte_minhash_arr(@s, 4, 21)", IAE,
      "requirement failed: graft_byte_minhash_arr n=21 out of range"),
    ("graft_byte_grams(@s, 0)", IAE,
      "requirement failed: graft_byte_grams k=0 out of range"),
    ("graft_gram_hits_all(@s, @profs, 0)", IAE,
      "requirement failed: graft_gram_hits_all nlangs=0 out of range [1, 4096]"),
    ("graft_gram_buckets(@s, 0, 1000)", IAE,
      "requirement failed: graft_gram_buckets n=0 out of range [1, 64]"),
    ("graft_gram_buckets(@s, 3, 0)", IAE,
      "requirement failed: graft_gram_buckets m=0 must be positive"),
    ("graft_lm_familiarity(@s, 65, 1000, @la, @la)", IAE,
      "requirement failed: graft_lm_familiarity n=65 out of range [1, 64]"),
    ("graft_lm_familiarity(@s, 3, 0, @la, @la)", IAE,
      "requirement failed: graft_lm_familiarity m=0 must be positive"),
    ("graft_scrub_passages(@s, 0, @sa)", IAE,
      "requirement failed: graft_scrub_passages w=0 must be >= 1"),
    ("graft_passages_distinct(@s, 0)", IAE,
      "requirement failed: graft_passages_distinct w=0 must be >= 1"),
    ("graft_passages(@s, 0)", EAE,
      "Cannot resolve \"graft_passages(s, 0)\" due to data type mismatch: " +
        "graft_passages passage width must be >= 1."),
    ("graft_thumb(@s, 0)", EAE,
      "Cannot resolve \"graft_thumb(s, 0)\" due to data type mismatch: " +
        "graft_thumb byte budget must be >= 1."),
    ("graft_hex_tiles(@s, 0)", EAE,
      "Cannot resolve \"graft_hex_tiles(s, 0)\" due to data type mismatch: " +
        "graft_hex_tiles tile byte width must be >= 1."),
    ("graft_gram_chain(@s, @i)", AE, "graft_gram_chain: argument <n> must be a " +
      s"foldable INT literal $geometry; got non-foldable expression i"),
    ("graft_dhash(@s, 8L)", AE, "graft_dhash: argument <bits> must be a " +
      s"foldable INT literal $geometry; got type bigint"),
    ("graft_gram_buckets(@s, 3, 'x')", AE, "graft_gram_buckets: argument <m> must " +
      s"be a foldable INT or BIGINT literal $geometry; got type string"),
    ("graft_code(@vd, @cents, 0, CAST(NULL AS INT))", AE, "graft_code: argument " +
      s"<len> must be a foldable INT literal $geometry; got NULL"),
    ("graft_poly_hash()", AE,
      "graft_poly_hash expects 1 argument(s), got 0"),
    ("graft_lsh_bucket(@vf, 8, 1)", AE,
      "graft_lsh_bucket expects 1 to 2 arguments, got 3"),
    ("graft_lm_familiarity(@s, 3)", AE,
      "graft_lm_familiarity expects 5 argument(s), got 2"))

  test("out-of-range and non-literal plan-time arguments keep their errors") {
    for ((sql, cls, msg) <- literalErrors) {
      val e = intercept[Exception](fx.df.selectExpr(
        "@(\\w+)".r.replaceAllIn(sql, _.group(1))).collect())
      assert(e.getClass.getName === cls, sql)
      assert(e.getMessage.contains(msg), s"$sql: ${e.getMessage}")
    }
  }

  test("a Java-serialized projection of every kernel evaluates to the kernel values") {
    val analyzed = fx.df.selectExpr(calls.map(_.sql(identity)): _*).queryExecution.analyzed
    val Project(list, child) = analyzed
    val bound: Seq[Expression] = list.map(e => BindReferences.bindReference(
      e.asInstanceOf[Expression], child.output))
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(bound)
    out.close()
    val copy = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[Seq[Expression]]
    for ((c, e) <- calls.zip(copy)) {
      val dt = e.dataType
      assert(CatalystTypeConverters.convertToScala(e.eval(fx.row), dt) ===
        CatalystTypeConverters.convertToScala(c.direct(fx), dt), c.toString)
    }
  }
}
