package graft

import graft.expr.{CmrGeometryExpr, CmsEstimateExpr, CmsJoinSizeExpr, CmsMergeAgg, CmsSketchAgg, CosineSimExpr, DeflateRatioExpr, ExtractDatesExpr, CharEntropyExpr, FingerprintExpr, GeometryBboxExpr, GopherKeepExpr, GopherReportExpr, HllEstimateExpr, HllSketchAgg, HllUnionAgg, KllMergeAgg, KllQuantileExpr, KllSketchAgg, LshBucketExpr, Md5PrefixExpr, MinhashSigExpr, MinhashUnionAgg, MultiAssetPartsExpr, PqEncodeExpr, SetJaccardExpr, ShingleHashesExpr, SigAgreeExpr, SimhashExpr, SpanAnchorsExpr, VecDotExpr, VecSumAgg}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.ExprColumn
import org.apache.spark.sql.types.StringType

/** The engine's custom expressions by name: one table of builders that
  * both Scala and SQL text reach the kernels through.
  *
  *  - Scala operators and helpers build their Columns with [[call]],
  *    so they work on any session, registered or not.
  *  - SQL text (`spark.sql`, `expr`) resolves the same names once the
  *    session is registered, by cluster config
  *    (`spark.sql.extensions=graft.GraftExtensions`) or at runtime
  *    (`GraftFunctions.register(spark)`); either also installs the
  *    opt-in [[graft.plans.RangeJoinRule]].
  *
  * Registered functions:
  *  - `extract_dates(filename[, range])` → struct<start_datetime,
  *    end_datetime, single_datetime> (the F1 cascade as one native
  *    codegen'd expression).
  */
object GraftFunctions {

  private val extractDatesBuilder: Seq[Expression] => Expression = {
    case Seq(f) => ExtractDatesExpr(f, Literal(null, StringType))
    case Seq(f, r) => ExtractDatesExpr(f, r)
    case other => throw new IllegalArgumentException(
      s"extract_dates expects 1 or 2 arguments, got ${other.size}")
  }

  private def arity2(name: String, mk: (Expression, Expression) => Expression)
  : Seq[Expression] => Expression = {
    case Seq(a, b) => mk(a, b)
    case other => throw new IllegalArgumentException(
      s"$name expects 2 arguments, got ${other.size}")
  }

  private[graft] val registrations = Seq(
    (FunctionIdentifier("extract_dates"),
      new ExpressionInfo(classOf[ExtractDatesExpr].getName,
        "extract_dates"),
      extractDatesBuilder),
    (FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashesExpr].getName,
        "shingle_hashes"),
      arity2("shingle_hashes", ShingleHashesExpr.apply)),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSigExpr].getName, "minhash_sig"),
      arity2("minhash_sig", MinhashSigExpr.apply)),
    (FunctionIdentifier("sig_agree"),
      new ExpressionInfo(classOf[SigAgreeExpr].getName, "sig_agree"),
      arity2("sig_agree", SigAgreeExpr.apply)),
    (FunctionIdentifier("set_jaccard"),
      new ExpressionInfo(classOf[SetJaccardExpr].getName, "set_jaccard"),
      arity2("set_jaccard", SetJaccardExpr.apply)),
    (FunctionIdentifier("text_fingerprint"),
      new ExpressionInfo(classOf[FingerprintExpr].getName,
        "text_fingerprint"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "text_fingerprint expects 1 argument")
        FingerprintExpr(exprs.head)
      }),
    (FunctionIdentifier("char_entropy_stats"),
      new ExpressionInfo(classOf[CharEntropyExpr].getName,
        "char_entropy_stats"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "char_entropy_stats expects 1 argument")
        CharEntropyExpr(exprs.head)
      }),
    (FunctionIdentifier("gopher_keep"),
      new ExpressionInfo(classOf[GopherKeepExpr].getName,
        "gopher_keep"),
      arity2("gopher_keep", GopherKeepExpr.apply)),
    (FunctionIdentifier("gopher_report"),
      new ExpressionInfo(classOf[GopherReportExpr].getName,
        "gopher_report"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "gopher_report expects 1 argument")
        GopherReportExpr(exprs.head)
      }),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimhashExpr].getName, "simhash64"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "simhash64 expects 1 argument")
        SimhashExpr(exprs.head)
      }),
    (FunctionIdentifier("md5_prefix"),
      new ExpressionInfo(classOf[Md5PrefixExpr].getName, "md5_prefix"),
      arity2("md5_prefix", Md5PrefixExpr)),
    (FunctionIdentifier("span_anchors"),
      new ExpressionInfo(classOf[SpanAnchorsExpr].getName, "span_anchors"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 3, "span_anchors expects 3 arguments")
        SpanAnchorsExpr(exprs(0), exprs(1), exprs(2))
      }),
    (FunctionIdentifier("multi_asset_parts"),
      new ExpressionInfo(classOf[MultiAssetPartsExpr].getName,
        "multi_asset_parts"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 3,
          "multi_asset_parts expects (url, data_file_regex, data_file)")
        MultiAssetPartsExpr(exprs(0), exprs(1), exprs(2))
      }),
    (FunctionIdentifier("cmr_geometry"),
      new ExpressionInfo(classOf[CmrGeometryExpr].getName, "cmr_geometry"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 3, "cmr_geometry expects 3 arguments")
        CmrGeometryExpr(exprs(0), exprs(1), exprs(2))
      }),
    (FunctionIdentifier("geometry_bbox"),
      new ExpressionInfo(classOf[GeometryBboxExpr].getName, "geometry_bbox"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "geometry_bbox expects 1 argument")
        GeometryBboxExpr(exprs.head)
      }),
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDotExpr].getName, "vec_dot"),
      arity2("vec_dot", VecDotExpr.apply)),
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimExpr].getName, "cosine_sim"),
      arity2("cosine_sim", CosineSimExpr.apply)),
    (FunctionIdentifier("lsh_bucket"),
      new ExpressionInfo(classOf[LshBucketExpr].getName, "lsh_bucket"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 3, "lsh_bucket expects 3 arguments")
        LshBucketExpr(exprs(0), exprs(1), exprs(2))
      }),
    (FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncodeExpr].getName, "pq_encode"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 4, "pq_encode expects 4 arguments")
        PqEncodeExpr(exprs(0), exprs(1), exprs(2), exprs(3))
      }),
    (FunctionIdentifier("minhash_union"),
      new ExpressionInfo(classOf[MinhashUnionAgg].getName, "minhash_union"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "minhash_union expects 1 argument")
        MinhashUnionAgg(exprs.head).toAggregateExpression()
      }),
    (FunctionIdentifier("vec_sum_micros"),
      new ExpressionInfo(classOf[VecSumAgg].getName, "vec_sum_micros"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "vec_sum_micros expects 1 argument")
        VecSumAgg(exprs.head).toAggregateExpression()
      }),
    (FunctionIdentifier("hll_sketch"),
      new ExpressionInfo(classOf[HllSketchAgg].getName, "hll_sketch"),
      { exprs: Seq[Expression] =>
        val agg = exprs match {
          case Seq(c) => HllSketchAgg(c)
          case Seq(c, Literal(p: Int, _)) => HllSketchAgg(c, p)
          case _ => throw new IllegalArgumentException(
            "hll_sketch expects (col[, precision literal])")
        }
        agg.toAggregateExpression()
      }),
    (FunctionIdentifier("graft_hll_union"),
      new ExpressionInfo(classOf[HllUnionAgg].getName, "graft_hll_union"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "graft_hll_union expects 1 argument")
        HllUnionAgg(exprs.head).toAggregateExpression()
      }),
    (FunctionIdentifier("hll_estimate"),
      new ExpressionInfo(classOf[HllEstimateExpr].getName, "hll_estimate"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "hll_estimate expects 1 argument")
        HllEstimateExpr(exprs.head)
      }),
    (FunctionIdentifier("kll_sketch"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "kll_sketch"),
      { exprs: Seq[Expression] =>
        val agg = exprs match {
          case Seq(c) => KllSketchAgg(c)
          case Seq(c, Literal(k: Int, _)) => KllSketchAgg(c, k)
          case _ => throw new IllegalArgumentException(
            "kll_sketch expects (col[, k literal])")
        }
        agg.toAggregateExpression()
      }),
    (FunctionIdentifier("kll_merge"),
      new ExpressionInfo(classOf[KllMergeAgg].getName, "kll_merge"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "kll_merge expects 1 argument")
        KllMergeAgg(exprs.head).toAggregateExpression()
      }),
    (FunctionIdentifier("kll_quantile"),
      new ExpressionInfo(classOf[KllQuantileExpr].getName, "kll_quantile"),
      arity2("kll_quantile", KllQuantileExpr.apply)),
    (FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[CmsSketchAgg].getName, "cms_sketch"),
      { exprs: Seq[Expression] =>
        val agg = exprs match {
          case Seq(c) => CmsSketchAgg(c)
          case Seq(c, Literal(d: Int, _), Literal(w: Int, _)) =>
            CmsSketchAgg(c, d, w)
          case _ => throw new IllegalArgumentException(
            "cms_sketch expects (col[, depth literal, width literal])")
        }
        agg.toAggregateExpression()
      }),
    (FunctionIdentifier("cms_merge"),
      new ExpressionInfo(classOf[CmsMergeAgg].getName, "cms_merge"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "cms_merge expects 1 argument")
        CmsMergeAgg(exprs.head).toAggregateExpression()
      }),
    (FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimateExpr].getName, "cms_estimate"),
      arity2("cms_estimate", CmsEstimateExpr.apply)),
    (FunctionIdentifier("cms_join_size"),
      new ExpressionInfo(classOf[CmsJoinSizeExpr].getName, "cms_join_size"),
      arity2("cms_join_size", CmsJoinSizeExpr.apply)),
    (FunctionIdentifier("deflate_ratio"),
      new ExpressionInfo(classOf[DeflateRatioExpr].getName, "deflate_ratio"),
      { exprs: Seq[Expression] =>
        require(exprs.size == 1, "deflate_ratio expects 1 argument")
        DeflateRatioExpr(exprs.head)
      }))

  private lazy val builders: Map[String, Seq[Expression] => Expression] =
    registrations.map { case (id, _, b) => id.funcName -> b }.toMap

  /** Kernel `name` applied to `args`, built by the builder SQL text
    * resolves the name through, so no session registration is needed.
    * An unknown name fails here, not at analysis. */
  private[graft] def call(name: String, args: Column*): Column = {
    val builder = builders.getOrElse(name, throw new IllegalArgumentException(
      s"$name is not a graft function"))
    ExprColumn.column(builder(args.map(ExprColumn.expression)))
  }

  /** Runtime registration on an existing session: SQL functions plus
    * the graft optimizer rules (idempotent; the rules are opt-in via
    * their own confs, so presence alone changes no plans). */
  def register(spark: SparkSession): Unit = {
    registrations.foreach { case (id, info, builder) =>
      // guard: re-registering an existing function logs a WARN
      if (!spark.sessionState.functionRegistry.functionExists(id))
        spark.sessionState.functionRegistry
          .registerFunction(id, info, builder)
    }
    val extra = spark.experimental.extraOptimizations
    if (!extra.exists(_.isInstanceOf[graft.plans.RangeJoinRule]))
      spark.experimental.extraOptimizations =
        extra :+ graft.plans.RangeJoinRule(spark)
  }

  /** SparkSessionExtensions hook (for `spark.sql.extensions`). */
  def injectInto(ext: SparkSessionExtensions): Unit = {
    registrations.foreach(ext.injectFunction)
    ext.injectOptimizerRule(s => graft.plans.RangeJoinRule(s))
  }
}

/** `spark.sql.extensions=graft.GraftExtensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.injectInto(ext)
}
