package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Not}
import org.apache.spark.sql.graftshim.ColumnBridge

/** The one table of graft's native Catalyst kernels: SQL name → builder.
  * Adding a kernel means adding one row here; every surface reads it:
  *  - the Scala API, [[column]], builds a Column straight from the
  *    builder through the graftshim bridge — no function registry and
  *    no dependence on which SparkSession is active on the calling
  *    thread, so operators need no setup;
  *  - `graft.GraftExtensions` injects every row into sessions built
  *    with `spark.sql.extensions` ([[inject]]);
  *  - [[install]] registers every row as a temp function in one
  *    session, for callers that put kernel names in SQL text.
  */
object Kernels {
  type Builder = Seq[Expression] => Expression

  private def unary(name: String)(f: Expression => Expression): (String, Builder) =
    name -> Arity.unary(name)(f)
  private def binary(name: String)(f: (Expression, Expression) => Expression): (String, Builder) =
    name -> Arity.binary(name)(f)

  val table: Seq[(String, Builder)] = Seq(
    // session-info functions (reference session_function/); current_user
    // and current_database are Spark built-ins and are not shadowed
    "current_tenant" -> SessionFunctions.currentTenant _,
    "current_role" -> SessionFunctions.currentRole _,
    binary("vec_dot")(VecDot),
    binary("vec_dot_i8")(VecDotI8),
    binary("pq_encode")(PqEncodeCodes),
    unary("bin_sig")(BinarySignature),
    binary("nearest_cell")(NearestCell),
    binary("nearest_cell_2l")(NearestCellCoarse),
    binary("nearest_cell_pruned")(NearestCellPruned),
    binary("char_ngram_set")(CharNgramSet),
    binary("array_overlap_count")(ArrayOverlapCount),
    binary("minhash_sig")(MinhashSig),
    unary("word_shingle_set")(WordShingleSet),
    unary("simhash60")(SimHash60),
    binary("word_set_count")(WordSetCount),
    binary("char_set_count")(CharSetCount),
    unary("non_alnum_space_count")(NonAlnumSpaceCount),
    unary("bpe_token_count")(BpeTokenCount),
    unary("rep_stats")(RepStats),
    unary("ws_normalize")(WsNormalize),
    unary("winnow_set")(WinnowSet),
    binary("dsir_score")(DsirScore),
    unary("alpha_word_count")(AlphaWordCount),
    binary("bpe_seg_count")(BpeSegCount),
    binary("num_gcd")(NumGcd),
    binary("num_lcm")(NumLcm),
    binary("zorder_key")(ZorderKey),
    binary("st_distance")(StDistance),
    binary("st_intersects")(StIntersects),
    binary("st_within")(StWithin),
    binary("st_equals")(StEquals),
    unary("st_area")(StArea),
    unary("st_asbinary")(StAsBinary),
    unary("st_geomfromwkb")(StGeomFromWkb),
    unary("st_geomfromwkt")(StGeomFromWkt),
    // derived predicates, same SQL surface as the reference gis/mod.rs:
    // contains = within with flipped arguments, disjoint = NOT intersects
    binary("st_contains")((a, b) => StWithin(b, a)),
    binary("st_disjoint")((a, b) => Not(StIntersects(a, b))))

  private val byName: Map[String, Builder] = table.toMap

  /** The kernel `name` applied to `args`, as a Column. */
  def column(name: String, args: Column*): Column = byName.get(name) match {
    case Some(build) => ColumnBridge.column(build(args.map(ColumnBridge.expression)))
    case None        => throw new IllegalArgumentException(s"no graft kernel named $name")
  }

  /** Registers every kernel as a temp function in `spark`, so SQL text
    * run there can name it. Idempotent.
    */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.foreach { case (name, build) => reg.createOrReplaceTempFunction(name, build, "built-in") }
  }

  /** Injects every kernel into sessions built with these extensions. */
  def inject(ext: SparkSessionExtensions): Unit =
    table.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft", name), build))
    }
}
