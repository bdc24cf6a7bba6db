package graft.plans

import graft.expressions.{SortedIntersectSize, SortedJaccard}
import org.apache.spark.sql.{GraftColumn, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.DoubleType

/** Session extension registering graft's custom expressions as SQL
  * functions, so `spark.sql("... sorted_intersect_size(a, b) ...")` works
  * alongside the Column API — plus the SoQL geo trio
  * (`distance_in_meters`, `within_circle`, `within_box`) as COMPOSED
  * Catalyst expression trees: they expand to the same built-in trig
  * expressions `graft.functions.Geo` builds through the Column API, so a
  * `$where` string like `within_circle(lat, lon, 21.3, -157.8, 5e4)` stays
  * fully inside whole-stage codegen (no UDF anywhere).
  *
  * Two entry points:
  *  - cluster-wide: `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  *    (the standard `SparkSessionExtensions` injection path);
  *  - per-session: `GraftExtensions.register(spark)` on a live session.
  *
  * The extension registers functions only. How a session plans is
  * changed in one place, [[GraftPlanner.install]] (graft's one optimizer
  * `Rule`, [[SmallFinalSort]], and its one `SparkStrategy`,
  * [[TopKStrategy]]), which every `SparkEntry.queries` entry and
  * `TopK.perKey` call on their session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach(ext.injectFunction)
}

object GraftExtensions {

  private type FunctionDesc =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private val sortedIntersectSizeDesc: FunctionDesc = (
    FunctionIdentifier("sorted_intersect_size"),
    new ExpressionInfo(classOf[SortedIntersectSize].getName,
      "sorted_intersect_size"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"sorted_intersect_size takes 2 arguments, got ${args.length}")
      SortedIntersectSize(args.head, args(1))
    })

  private val sortedJaccardDesc: FunctionDesc = (
    FunctionIdentifier("sorted_jaccard"),
    new ExpressionInfo(classOf[SortedJaccard].getName,
      "sorted_jaccard"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"sorted_jaccard takes 2 arguments, got ${args.length}")
      SortedJaccard(args.head, args(1))
    })

  private def d(e: Expression): Expression = Cast(e, DoubleType)

  /** The exact expression tree `Geo.distanceInMeters` builds via Columns:
    * haversine on a spherical earth, R = 6371 km.
    */
  private def haversine(lat1: Expression, lon1: Expression,
                        lat2: Expression, lon2: Expression): Expression = {
    val half = Literal(2.0)
    val dLat = ToRadians(Subtract(d(lat2), d(lat1)))
    val dLon = ToRadians(Subtract(d(lon2), d(lon1)))
    val h = Add(
      Pow(Sin(Divide(dLat, half)), Literal(2.0)),
      Multiply(
        Multiply(Cos(ToRadians(d(lat1))), Cos(ToRadians(d(lat2)))),
        Pow(Sin(Divide(dLon, half)), Literal(2.0))))
    Multiply(Literal(2.0 * graft.functions.Geo.EarthRadiusM), Asin(Sqrt(h)))
  }

  private val distanceInMetersDesc: FunctionDesc = (
    FunctionIdentifier("distance_in_meters"),
    new ExpressionInfo(GraftExtensions.getClass.getName, "distance_in_meters"),
    (args: Seq[Expression]) => {
      require(args.length == 4,
        s"distance_in_meters(lat1, lon1, lat2, lon2) takes 4 arguments, got ${args.length}")
      haversine(args(0), args(1), args(2), args(3))
    })

  private val withinCircleDesc: FunctionDesc = (
    FunctionIdentifier("within_circle"),
    new ExpressionInfo(GraftExtensions.getClass.getName, "within_circle"),
    (args: Seq[Expression]) => {
      require(args.length == 5,
        s"within_circle(lat, lon, centerLat, centerLon, radiusM) takes 5 arguments, got ${args.length}")
      LessThanOrEqual(haversine(args(0), args(1), args(2), args(3)), d(args(4)))
    })

  private val withinBoxDesc: FunctionDesc = (
    FunctionIdentifier("within_box"),
    new ExpressionInfo(GraftExtensions.getClass.getName, "within_box"),
    (args: Seq[Expression]) => {
      require(args.length == 6,
        s"within_box(lat, lon, nwLat, nwLon, seLat, seLon) takes 6 arguments, got ${args.length}")
      val (lat, lon) = (d(args(0)), d(args(1)))
      val (nwLon, seLon) = (d(args(3)), d(args(5)))
      // antimeridian wrap, same semantics as Geo.withinBox: nwLon > seLon
      // means the box crosses the date line and the longitude test is a
      // disjunction. Decided with an If EXPRESSION (not Scala-side) since
      // SQL args arrive as literals — Catalyst constant-folds the branch,
      // so the optimized tree equals the Column API's
      val lonIn = If(LessThanOrEqual(nwLon, seLon),
        And(GreaterThanOrEqual(lon, nwLon), LessThanOrEqual(lon, seLon)),
        Or(GreaterThanOrEqual(lon, nwLon), LessThanOrEqual(lon, seLon)))
      And(
        And(LessThanOrEqual(lat, d(args(2))), GreaterThanOrEqual(lat, d(args(4)))),
        lonIn)
    })

  private val weightedAvgDesc: FunctionDesc = (
    FunctionIdentifier("weighted_avg"),
    new ExpressionInfo(classOf[graft.expressions.WeightedAvgDecl].getName,
      "weighted_avg"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"weighted_avg(x, w) takes 2 arguments, got ${args.length}")
      graft.expressions.WeightedAvgDecl(args(0), args(1))
    })

  /** literal-double extractor for function args that must be constants
    * (SQL fractional literals like `0.3` parse as DECIMAL literals wrapping
    * `o.a.s.sql.types.Decimal`, which is NOT a java.lang.Number)
    */
  private def litDouble(e: Expression, what: String): Double = e match {
    case Literal(v: Double, DoubleType) => v
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case Literal(v: java.lang.Number, _) => v.doubleValue()
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }

  private val scrubPiiDesc: FunctionDesc = (
    FunctionIdentifier("scrub_pii"),
    new ExpressionInfo(GraftExtensions.getClass.getName, "scrub_pii"),
    (args: Seq[Expression]) => {
      require(args.length == 1, s"scrub_pii(text) takes 1 argument, got ${args.length}")
      GraftColumn.expr(graft.functions.TextFunctions
        .scrubPii(GraftColumn(args.head)))
    })

  private val hashSampleDesc: FunctionDesc = (
    FunctionIdentifier("hash_sample"),
    new ExpressionInfo(GraftExtensions.getClass.getName, "hash_sample"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"hash_sample(key, rate) takes 2 arguments, got ${args.length}")
      GraftColumn.expr(graft.functions.Sampling.hashSample(
        GraftColumn(args.head), litDouble(args(1), "rate")))
    })

  private val hashSplitDesc: FunctionDesc = (
    FunctionIdentifier("hash_split"),
    new ExpressionInfo(GraftExtensions.getClass.getName, "hash_split"),
    (args: Seq[Expression]) => {
      require(args.length == 3,
        s"hash_split(key, trainFrac, valFrac) takes 3 arguments, got ${args.length}")
      GraftColumn.expr(graft.functions.Sampling.hashSplit(
        GraftColumn(args.head), litDouble(args(1), "trainFrac"),
        litDouble(args(2), "valFrac")))
    })

  /** integer-literal extractor for structural function args */
  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: java.lang.Number, _) => v.intValue()
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private val simhash60Desc: FunctionDesc = (
    FunctionIdentifier("simhash60"),
    new ExpressionInfo(classOf[graft.expressions.SimHash60].getName,
      "simhash60"),
    (args: Seq[Expression]) => {
      require(args.length == 1, s"simhash60(text) takes 1 argument, got ${args.length}")
      graft.expressions.SimHash60(args.head)
    })

  private val shingleIdsDesc: FunctionDesc = (
    FunctionIdentifier("shingle_ids"),
    new ExpressionInfo(classOf[graft.expressions.ShingleIds].getName,
      "shingle_ids"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"shingle_ids(text, n) takes 2 arguments, got ${args.length}")
      graft.expressions.ShingleIds(args.head, litInt(args(1), "n"))
    })

  private val minhashBandsDesc: FunctionDesc = (
    FunctionIdentifier("minhash_bands"),
    new ExpressionInfo(classOf[graft.expressions.MinHashBands].getName,
      "minhash_bands"),
    (args: Seq[Expression]) => {
      require(args.length == 3,
        s"minhash_bands(text, k, bands) takes 3 arguments, got ${args.length}")
      graft.expressions.MinHashBands(args.head, litInt(args(1), "k"),
        litInt(args(2), "bands"))
    })

  private val wordNgramsDesc: FunctionDesc = (
    FunctionIdentifier("word_ngrams"),
    new ExpressionInfo(classOf[graft.expressions.WordNgrams].getName,
      "word_ngrams"),
    (args: Seq[Expression]) => {
      require(args.length == 2 || args.length == 3,
        s"word_ngrams(text, n[, distinct]) takes 2-3 arguments, got ${args.length}")
      val dist = args.length < 3 || (args(2) match {
        case Literal(b: java.lang.Boolean, _) => b.booleanValue()
        case other => throw new IllegalArgumentException(
          s"distinct must be a boolean literal, got $other")
      })
      graft.expressions.WordNgrams(args.head, litInt(args(1), "n"), dist)
    })

  private val winnowIdsDesc: FunctionDesc = (
    FunctionIdentifier("winnow_ids"),
    new ExpressionInfo(classOf[graft.expressions.WinnowIds].getName,
      "winnow_ids"),
    (args: Seq[Expression]) => {
      require(args.length == 3,
        s"winnow_ids(text, n, w) takes 3 arguments, got ${args.length}")
      graft.expressions.WinnowIds(args.head, litInt(args(1), "n"),
        litInt(args(2), "w"))
    })

  private val bloomMightContainDesc: FunctionDesc = (
    FunctionIdentifier("bloom_might_contain"),
    new ExpressionInfo(classOf[graft.expressions.BloomMightContain].getName,
      "bloom_might_contain"),
    (args: Seq[Expression]) => {
      require(args.length == 4,
        s"bloom_might_contain(filter, key, num_bits, num_hashes) takes 4 " +
          s"arguments, got ${args.length}")
      graft.expressions.BloomMightContain(args.head, args(1),
        litInt(args(2), "num_bits"), litInt(args(3), "num_hashes"))
    })

  private val all: Seq[FunctionDesc] = Seq(sortedIntersectSizeDesc,
    sortedJaccardDesc,
    distanceInMetersDesc, withinCircleDesc, withinBoxDesc, weightedAvgDesc,
    scrubPiiDesc, hashSampleDesc, hashSplitDesc, simhash60Desc,
    shingleIdsDesc, minhashBandsDesc, wordNgramsDesc, winnowIdsDesc,
    bloomMightContainDesc)

  /** Register the functions into an already-running session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
