package graft.operators

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.2.F — scalar function surface (SoQL string/date/math/conditional
  * functions + the north-star array/JSON columns). All expressions are
  * built-in `org.apache.spark.sql.functions` — codegen'd, stay inside
  * WholeStageCodegen, no UDFs in these paths.
  */
object ScalarQueries {

  def q50_string_funcs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        lower(col("p_type")).as("lo_type"),
        substring(col("p_name"), 1, 5).as("sub5"),
        length(col("p_name")).cast("long").as("name_len"),
        concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), " ", "_").as("snake_name"),
        col("p_name").like("%gear%").as("has_gear"),
        col("p_brand").like("Brand#1%").as("is_brand1"))
      .orderBy(col("p_partkey"))
      .limit(500)

  def q51_date_funcs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("o_month"))
      .agg(
        count(lit(1)).as("n"),
        min(dayofmonth(col("o_orderdate"))).cast("long").as("min_day"),
        max(datediff(to_date(lit("2000-01-01")), to_date(col("o_orderdate"))))
          .cast("long").as("max_diff"))
      .select(
        col("o_month"),
        year(col("o_month")).cast("long").as("yr"),
        month(col("o_month")).cast("long").as("mo"),
        col("n"), col("min_day"), col("max_diff"))
      .orderBy(col("o_month"))

  def q52_math_funcs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Det.r2(col("l_extendedprice")).as("rp"),
        Det.r2(abs(col("l_quantity") - 25.0)).as("ab"),
        ceil(col("l_extendedprice")).cast("long").as("ce"),
        floor(col("l_extendedprice")).cast("long").as("fl"),
        Det.r6(pow(col("l_discount"), 2.0)).as("pw"),
        Det.r6(log(col("l_extendedprice"))).as("ln_p"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("rp"), col("ab"),
        col("ce"), col("fl"), col("pw"), col("ln_p"))
      .limit(500)

  /** regex surface: group extraction, numeric capture, full-match test */
  def q56_regex_funcs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+) ([a-z]+)", 2).as("second_word"),
        regexp_extract(col("p_brand"), "Brand#([0-9]+)", 1).cast("int")
          .as("brand_num"),
        col("p_type").rlike("^[A-Z]+$").as("all_caps"))
      .orderBy(col("p_partkey"))
      .limit(500)

  /** calendar arithmetic: add_months (month-end clamping matches DuckDB's
    * `+ INTERVAL 1 MONTH`), last_day, day offsets — all emitted as DATE on
    * both sides (dialects differ in timestamp-vs-date returns otherwise).
    */
  def q57_date_arith(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey"),
        add_months(to_date(col("o_orderdate")), 1).as("plus_month"),
        last_day(to_date(col("o_orderdate"))).as("month_end"),
        date_add(to_date(col("o_orderdate")), 7).as("plus_week"))
      .orderBy(col("o_orderkey"))
      .limit(500)

  /** Money-exact decimal path (SURVEY §1.2 maps Socrata `money` to
    * `DecimalType`): each price is fixed to exact DECIMAL(18,2) (the two
    * engines agree on the double→decimal(2) rounding — min/max have
    * hash-matched in every round), converted to integer CENTS, and all
    * aggregation runs in exact int64 arithmetic — the canonical fixed-point
    * money representation, drift-free and overflow-safe to ~9e16 dollars.
    * The OUTPUT surface is int64 only: decimal(38,2) (r03), decimal(18,2)
    * (r04) and double (r04-final) output columns all hash-diverged in the
    * driver's canonicalization despite bit-identical values (the local
    * compare.py mirror passes every time), so the surface uses the one
    * type with a single possible canonical form.
    */
  def q58_decimal_money(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      .groupBy(col("o_orderstatus"))
      .agg(
        sum(col("cents")).as("total_cents"),
        count(lit(1)).as("n"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .orderBy(col("o_orderstatus"))

  /** Socrata `location` surface (SURVEY §1.2), hash-checked: build
    * `struct<lat,lon>` columns with [[graft.functions.Geo]], compute
    * haversine `distance_in_meters` to a fixed point (Honolulu — the
    * reference served Hawaii open data), filter `within_circle`-style on
    * the rounded km, and emit a `within_box` flag. Lat/lon are derived
    * deterministically from supplier keys (pure double arithmetic, replayed
    * identically in the oracle); distances are rounded to whole km so the
    * ≤1-ulp libm-vs-JVM trig divergence cannot flip a comparison.
    */
  def q59_geo_distance(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Geo
    val lat = col("s_nationkey").cast("double") * 3.0 - 36.0
    val lon = (col("s_suppkey") % 360).cast("double") - 180.0 +
      col("s_nationkey").cast("double") / 50.0
    val honolulu = Geo.location(lit(21.3069), lit(-157.8583))
    Tables.supplier(spark, sfDir)
      .withColumn("loc", Geo.location(lat, lon))
      .withColumn("dist_km",
        round(Geo.distanceInMeters(col("loc"), honolulu) / 1000.0).cast("long"))
      .filter(col("dist_km") <= 9000L)
      .select(
        col("s_suppkey"),
        col("loc.lat").as("lat"),
        col("loc.lon").as("lon"),
        col("dist_km"),
        Geo.withinBox(col("loc"), nwLat = 30.0, nwLon = -180.0,
          seLat = -30.0, seLon = -120.0).as("in_box"))
      .orderBy(col("s_suppkey"))
  }

  /** Spatial radius self-join via grid cells (q139): all customer pairs
    * within 10 km — written as [[graft.functions.Geo.cellId]] against a
    * 3×3 [[graft.functions.Geo.neighborCells]] explode, equi-joined on
    * the cell id with exact haversine as the residual (the RangeJoin
    * binning idea in two dimensions; a raw `dist <= R` predicate is a
    * cartesian). cellDeg = 0.1° ≥ 10 km at these latitudes, so the
    * neighborhood provably covers the radius, and the ORACLE RUNS THE
    * BLOCKING-FREE QUADRATIC JOIN — the hash check proves the cell join
    * loses nothing. Distances in whole meters (q59's trig-parity
    * rounding); id_a < id_b orders each pair once.
    *
    * Scale: fan-out ×9 on one side, per-bucket cost bounded by cell
    * occupancy — the maxBucket analog; never all-pairs.
    */
  /** Latitude bound for every [[geoPairs]] CALLER's point set (ADVICE
    * r10: not "all graft geo point sets" — q59 spans ±36° but never
    * calls geoPairs): q139 derives lat = (key % 100)·0.05 ∈ [0°, 4.95°],
    * the graph queries (q151/q157/q159/q185/q202) lat =
    * (key/500 % 30)·0.03 ∈ [0°, 0.87°]. [[graft.functions.Geo.ringFor]]
    * sizes the neighbor ring's east–west coverage from this bound — a
    * caller whose latitudes exceed its declared bound silently
    * under-covers east–west and DROPS TRUE PAIRS, so the bound is now an
    * explicit [[geoPairs]] parameter each caller declares next to its
    * own lat derivation (this constant is q139's bound and the widest in
    * use, kept as the default). */
  private val GeoMaxAbsLatDeg = 4.95

  /** Grid-cell-blocked proximity pairs (id_a < id_b) within `radiusM` of
    * a point set ("id", "loc") — the q139/q151 join core: equi-join on
    * cell ((2·ring+1)² neighbor explode on one side, [[Geo.ringFor]]
    * sizing the ring so it provably covers `radiusM` both north–south
    * AND east–west at the data's latitude bound), exact haversine
    * residual.
    *
    * CONTRACT (ADVICE r10): `maxAbsLatDeg` must bound |lat| over `pts` —
    * the ring's east–west coverage shrinks as cos(lat), so an
    * understated bound silently drops true pairs near the radius. Each
    * caller declares the bound its own lat derivation implies, next to
    * that derivation; [[GeoMaxAbsLatDeg]] is the widest in use and the
    * default. */
  private def geoPairs(pts: DataFrame, radiusM: Long,
                       maxAbsLatDeg: Double = GeoMaxAbsLatDeg): DataFrame = {
    import graft.functions.{Escalation, Geo}
    // The cell size is the documented density knob (sf1 ledger row): a
    // denser corpus sets graft.scale.geo.cellDeg finer, ringFor widens
    // the neighbor ring so the radius stays covered, and the output is
    // knob-invariant (ScaleEscalationSpec pins q139 across grids). The
    // default reproduces the original 3×3 plan bit-for-bit.
    val cellDeg = Escalation.confDouble(
      pts.sparkSession, Geo.CellDegKey, 0.1)
    val ring = Geo.ringFor(radiusM.toDouble, cellDeg, maxAbsLatDeg)
    val a = pts.select(col("id").as("id_a"), col("loc").as("loc_a"),
      Geo.cellId(col("loc"), cellDeg).as("cell"))
    val b = pts.select(col("id").as("id_b"), col("loc").as("loc_b"),
      explode(Geo.neighborCells(col("loc"), cellDeg, ring)).as("cell"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist_m",
        round(Geo.distanceInMeters(col("loc_a"), col("loc_b"))).cast("long"))
      .filter(col("dist_m") <= radiusM)
      .select(col("id_a"), col("id_b"), col("dist_m"))
  }

  def q139_geo_cell_join(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Geo
    val pts = Tables.customer(spark, sfDir).select(
      col("c_custkey").as("id"),
      Geo.location((col("c_custkey") % 100).cast("double") * lit(0.05),
        (col("c_custkey") % 97).cast("double") * lit(0.05)).as("loc"))
    geoPairs(pts, 10000L).orderBy(col("id_a"), col("id_b"))
  }

  /** Per-vertex triangle counting (q151): how many triangles each
    * customer participates in on the 10 km proximity graph — the local
    * clustering-coefficient numerator, the standard community-density
    * signal (and the classic distributed-graph benchmark op). Edges are
    * id-oriented (a < b), so each triangle is enumerated exactly once as
    * the wedge a<b<c closed by edge (a,c): one self-join on the wedge
    * midpoint + one closure join — shuffled equi-joins, no cartesian.
    * Wedge volume is Σdeg², bounded here by grid-cell occupancy; on
    * skewed graphs the production refinement orders edges by DEGREE
    * instead of id (Suri–Vassilvitskii's MapReduce triangle trick —
    * public literature) — a real escalation branch below, flipped by
    * [[graft.functions.Escalation.escalateTriangles]] and exact either
    * way. The vertex set is a grid-WALK layout
    * (q139's diagonal lattice is triangle-free below coincidence scale —
    * a vacuous gate; the % 10 subset keeps fixture density bounded so
    * the triangle count stays graph-sized, not clique-combinatorial).
    * Emit (id, n_tri) for vertices in ≥1 triangle; order by id.
    */
  def q151_triangle_count(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Geo
    val pts = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("id"),
        Geo.location(
          expr("cast(((c_custkey div 10) div 50) % 30 as double)") * lit(0.03),
          expr("cast((c_custkey div 10) % 50 as double)") * lit(0.03))
          .as("loc"))
    // materialize the proximity edge list once (round 12, guide §2.4):
    // the triangle enumeration references `e` three times (wedge sides +
    // closure) and exchange reuse only dedupes the shuffles under the
    // cell join — the SMJ merge + per-candidate haversine re-ran per
    // reference. The edge list is a few-thousand-row (a, b) frame; one
    // lineage cut computes the trig once.
    val e = graft.functions.Checkpoints.cut(
      geoPairs(pts, 8000L, maxAbsLatDeg = 0.87).select(col("id_a").as("a"),
        col("id_b").as("b")))
    // The documented skew swap is a real code path (round 9): past
    // graft.scale.triangle.escalateBytes the enumeration routes through
    // [[Triangles.perVertexDegreeOrdered]] — wedges owned by the
    // (deg, id)-smallest vertex, O(m^{3/2}) total, the hub-skew killer
    // its spec measures (19900 → ≤500 wedges on a 200-spoke hub). EXACT
    // either way (each triangle enumerated once under any strict total
    // order), so the flip is implicit; ScaleEscalationSpec pins branch
    // equality via a synthetic 1-byte threshold.
    if (graft.functions.Escalation.escalateTriangles(pts)) {
      Triangles.perVertexDegreeOrdered(e).orderBy(col("id"))
    } else {
      // renamed projections per join role — self-join references to shared
      // attribute ids otherwise depend on Spark's ambiguity resolution
      val e2 = e.select(col("a").as("m"), col("b").as("c"))
      val e3 = e.select(col("a").as("x3"), col("b").as("z3"))
      val tri = e
        .join(e2, col("b") === col("m"))
        .join(e3, col("a") === col("x3") && col("c") === col("z3"))
        .select(col("a").as("x"), col("b").as("y"), col("c").as("z"))
      tri.select(col("x").as("id"))
        .unionByName(tri.select(col("y").as("id")))
        .unionByName(tri.select(col("z").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
        .orderBy(col("id"))
    }
  }

  /** PageRank on the proximity graph (q157): 5 damped rounds of
    * [[PageRank.ranks]] over the same grid-walk 8 km graph as q151,
    * undirected (each pair contributes both directed edges). The oracle
    * replays the 5 rounds as unrolled CTEs — integer micro-unit
    * arithmetic makes every intermediate rank bit-identical between the
    * engines (see PageRank's scaladoc). Emit (id, pr_micro) for every
    * vertex (isolated ones settle at the 150000 damping floor); order
    * by id.
    */
  def q157_pagerank(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Geo
    val pts = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("id"),
        Geo.location(
          expr("cast(((c_custkey div 10) div 50) % 30 as double)") * lit(0.03),
          expr("cast((c_custkey div 10) % 50 as double)") * lit(0.03))
          .as("loc"))
    // cut the pair list before the symmetrizing union (round 12, guide
    // §2.4): each union branch re-ran the cell join's merge + haversine
    // filter; checkpointed, the trig runs once and both branches read
    // the materialized (id_a, id_b) rows
    val und = graft.functions.Checkpoints.cut(
      geoPairs(pts, 8000L, maxAbsLatDeg = 0.87)
        .select(col("id_a"), col("id_b")))
    val edges = und.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(und.select(col("id_b").as("src"), col("id_a").as("dst")))
    PageRank.ranks(pts.select(col("id")), edges, iters = 5)
      .orderBy(col("id"))
  }

  /** Multi-source BFS (q159): exact hop distance (≤ 5) from the seed set
    * `id % 100 = 0` over the same undirected grid-walk 8 km graph as
    * q151/q157. Integer min-relaxation is idempotent and layout-free —
    * see [[Bfs]] — and the oracle replays the 5 rounds as unrolled
    * UNION+min CTEs. Emit (id, hops) for reached vertices only; order
    * by id.
    */
  def q159_bfs_hops(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Geo
    val pts = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("id"),
        Geo.location(
          expr("cast(((c_custkey div 10) div 50) % 30 as double)") * lit(0.03),
          expr("cast((c_custkey div 10) % 50 as double)") * lit(0.03))
          .as("loc"))
    // cut before the symmetrizing union — the q157 rule (round 12)
    val und = graft.functions.Checkpoints.cut(
      geoPairs(pts, 8000L, maxAbsLatDeg = 0.87)
        .select(col("id_a"), col("id_b")))
    val edges = und.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(und.select(col("id_b").as("src"), col("id_a").as("dst")))
    val seeds = pts.select(col("id")).filter(col("id") % 100 === 0)
    Bfs.hops(seeds, edges, rounds = 5).orderBy(col("id"))
  }

  /** Bounded weighted shortest paths (q185): Bellman–Ford distances in
    * meters from the q159 seed set over the same 8 km proximity graph,
    * 5 relaxation rounds — the routing/etl-lineage-cost member of the
    * graph tier (components q100, closure q148, triangles q151, PageRank
    * q157, hop-BFS q159). After k rounds each reached vertex holds the
    * EXACT minimum weight over ≤k-edge paths (the Bellman–Ford
    * invariant); integer meter weights + idempotent min make every round
    * layout-independent, and the oracle replays the bounded recursion as
    * 5 unrolled UNION+min CTEs (the q159 pattern with weights).
    *
    * Scale shape: [[Bfs.shortestPaths]] — edges partitioned by src once
    * and checkpointed, per-round shuffle is the ≤|V|-row frontier, min
    * combines map-side, lineage cut per round.
    */
  def q185_shortest_path(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Geo
    val pts = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("id"),
        Geo.location(
          expr("cast(((c_custkey div 10) div 50) % 30 as double)") * lit(0.03),
          expr("cast((c_custkey div 10) % 50 as double)") * lit(0.03))
          .as("loc"))
    // cut before the symmetrizing union — the q157 rule (round 12)
    val und = graft.functions.Checkpoints.cut(
      geoPairs(pts, 8000L, maxAbsLatDeg = 0.87))
    val edges = und.select(col("id_a").as("src"), col("id_b").as("dst"),
        col("dist_m").as("w"))
      .unionByName(und.select(col("id_b").as("src"), col("id_a").as("dst"),
        col("dist_m").as("w")))
    val seeds = pts.select(col("id")).filter(col("id") % 100 === 0)
    Bfs.shortestPaths(seeds, edges, rounds = 5).orderBy(col("id"))
  }

  def q53_case_coalesce(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        when(col("o_orderstatus") === "O", "open")
          .when(col("o_orderstatus") === "F", "finished")
          .otherwise("other").as("status_label"),
        coalesce(nullif(col("o_orderpriority"), lit("4-NOT SPECIFIED")),
          lit("none")).as("prio"))
      .groupBy(col("status_label"), col("prio"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status_label"), col("prio"))

  def q54_array_funcs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 100)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        Det.r6(element_at(col("embedding"), 1).cast("double")).as("first_elem"),
        Det.r4(graft.Det.l2norm(col("embedding"))).as("l2"))
      .orderBy(col("vec_id"))

  def q55_json_map(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(Det.r4(avg(col("k"))).as("avg_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** Bounded k-core peel (q202): six SYNCHRONIZED peel rounds toward the
    * 10-core of the q151/q157/q159 geo graph — each round drops every
    * vertex whose degree in the surviving subgraph is < 10, all at once.
    * The k-core is the standard cohesive-subgraph/influence screen
    * (vertices that survive belong to a region where everyone keeps ≥10
    * strong ties); the synchronized-round form is the Spark-natural one
    * (true degeneracy ordering is inherently sequential). The declared
    * semantics is the ROUND-BOUNDED peel — the q159 (≤5 hops) / q185
    * (≤5 relaxations) bounded-iteration contract: fixture status
    * measured per SF: sf0.1 reaches the fixpoint by round 6 (round 7
    * changes nothing), sf0.01's grid erodes from the boundary inward and
    * is still shrinking (the docstring's honesty note: survivors after
    * round 6 are a SUPERSET of the true 10-core there), sf0.001's 15
    * vertices peel to extinction — the empty-core case exercised.
    *
    * Scale shape: edges derive once (cell-blocked geo join, q139's
    * bounded fan-out) and [[graft.functions.KCore.peel]] checkpoints them
    * in the job that also counts them. When the symmetrized edge list fits
    * one task (the threshold connected components uses) the six rounds
    * run exactly in a single in-memory task, so the whole query is the
    * pair job plus the action's jobs; beyond it each round is one
    * two-phase degree agg + two same-key joins on a shrinking edge frame
    * with a per-round lineage cut — six bounded shuffles regardless of
    * corpus size.
    */
  def q202_kcore_peel(spark: SparkSession, sfDir: String): DataFrame =
    graft.functions.KCore.peel(kcorePairs(spark, sfDir), "id_a", "id_b")
      .orderBy(col("id"))

  /** q202's undirected input: (id_a < id_b, dist_m) for every pair of
    * grid-placed customers within 8 km. */
  private[graft] def kcorePairs(spark: SparkSession,
                                sfDir: String): DataFrame = {
    import graft.functions.Geo
    val pts = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("id"),
        Geo.location(
          expr("cast(((c_custkey div 10) div 50) % 30 as double)") * lit(0.03),
          expr("cast((c_custkey div 10) % 50 as double)") * lit(0.03))
          .as("loc"))
    geoPairs(pts, 8000L, maxAbsLatDeg = 0.87)
  }

  val oracle: Map[String, String] = Map(
    "q202_kcore_peel" ->
      """WITH p AS MATERIALIZED (SELECT c_custkey AS id,
        |    CAST(((c_custkey // 10) // 50) % 30 AS DOUBLE) * 0.03 AS lat,
        |    CAST((c_custkey // 10) % 50 AS DOUBLE) * 0.03 AS lon
        |  FROM customer WHERE c_custkey % 10 = 0),
        |j AS (SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(round(2 * 6371000.0 * asin(sqrt(
        |      pow(sin(radians(b.lat - a.lat) / 2), 2) +
        |      cos(radians(a.lat)) * cos(radians(b.lat)) *
        |      pow(sin(radians(b.lon - a.lon) / 2), 2)))) AS BIGINT) AS dist_m
        |  FROM p a JOIN p b ON a.id < b.id),
        |e0 AS (SELECT id_a AS src, id_b AS dst FROM j WHERE dist_m <= 8000),
        |e AS MATERIALIZED (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst, src FROM e0),
        |v1 AS MATERIALIZED (SELECT src AS id FROM e
        |  GROUP BY 1 HAVING count(*) >= 10),
        |e1 AS MATERIALIZED (SELECT t.src, t.dst FROM e t
        |  JOIN v1 a ON t.src = a.id JOIN v1 b ON t.dst = b.id),
        |v2 AS MATERIALIZED (SELECT src AS id FROM e1
        |  GROUP BY 1 HAVING count(*) >= 10),
        |e2 AS MATERIALIZED (SELECT t.src, t.dst FROM e1 t
        |  JOIN v2 a ON t.src = a.id JOIN v2 b ON t.dst = b.id),
        |v3 AS MATERIALIZED (SELECT src AS id FROM e2
        |  GROUP BY 1 HAVING count(*) >= 10),
        |e3 AS MATERIALIZED (SELECT t.src, t.dst FROM e2 t
        |  JOIN v3 a ON t.src = a.id JOIN v3 b ON t.dst = b.id),
        |v4 AS MATERIALIZED (SELECT src AS id FROM e3
        |  GROUP BY 1 HAVING count(*) >= 10),
        |e4 AS MATERIALIZED (SELECT t.src, t.dst FROM e3 t
        |  JOIN v4 a ON t.src = a.id JOIN v4 b ON t.dst = b.id),
        |v5 AS MATERIALIZED (SELECT src AS id FROM e4
        |  GROUP BY 1 HAVING count(*) >= 10),
        |e5 AS MATERIALIZED (SELECT t.src, t.dst FROM e4 t
        |  JOIN v5 a ON t.src = a.id JOIN v5 b ON t.dst = b.id),
        |v6 AS MATERIALIZED (SELECT src AS id FROM e5
        |  GROUP BY 1 HAVING count(*) >= 10),
        |e6 AS MATERIALIZED (SELECT t.src, t.dst FROM e5 t
        |  JOIN v6 a ON t.src = a.id JOIN v6 b ON t.dst = b.id)
        |SELECT src AS id, count(*) AS deg FROM e6
        |GROUP BY 1 ORDER BY id""".stripMargin,
    "q50_string_funcs" ->
      """SELECT p_partkey,
        |  upper(p_name) AS up_name,
        |  lower(p_type) AS lo_type,
        |  substring(p_name, 1, 5) AS sub5,
        |  length(p_name) AS name_len,
        |  p_brand || '/' || p_type AS brand_type,
        |  replace(p_name, ' ', '_') AS snake_name,
        |  p_name LIKE '%gear%' AS has_gear,
        |  p_brand LIKE 'Brand#1%' AS is_brand1
        |FROM part ORDER BY p_partkey LIMIT 500""".stripMargin,
    "q51_date_funcs" ->
      """SELECT o_month,
        |  CAST(year(o_month) AS BIGINT) AS yr,
        |  CAST(month(o_month) AS BIGINT) AS mo,
        |  n, min_day, max_diff
        |FROM (
        |  SELECT date_trunc('month', o_orderdate) AS o_month,
        |    count(*) AS n,
        |    CAST(min(day(o_orderdate)) AS BIGINT) AS min_day,
        |    CAST(max(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01')) AS BIGINT) AS max_diff
        |  FROM orders GROUP BY 1
        |) ORDER BY o_month""".stripMargin,
    "q52_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice, 2) AS rp,
        |  round(abs(l_quantity - 25.0), 2) AS ab,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        |  round(pow(l_discount, 2.0), 6) AS pw,
        |  round(ln(l_extendedprice), 6) AS ln_p
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, rp, ab, ce, fl, pw, ln_p LIMIT 500""".stripMargin,
    "q58_decimal_money" ->
      """SELECT o_orderstatus,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  count(*) AS n,
        |  min(cents) AS min_cents,
        |  max(cents) AS max_cents
        |FROM (SELECT o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "q151_triangle_count" ->
      """WITH p AS (SELECT c_custkey AS id,
        |    CAST(((c_custkey // 10) // 50) % 30 AS DOUBLE) * 0.03 AS lat,
        |    CAST((c_custkey // 10) % 50 AS DOUBLE) * 0.03 AS lon
        |  FROM customer WHERE c_custkey % 10 = 0),
        |j AS (SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(round(2 * 6371000.0 * asin(sqrt(
        |      pow(sin(radians(b.lat - a.lat) / 2), 2) +
        |      cos(radians(a.lat)) * cos(radians(b.lat)) *
        |      pow(sin(radians(b.lon - a.lon) / 2), 2)))) AS BIGINT) AS dist_m
        |  FROM p a JOIN p b ON a.id < b.id),
        |e AS (SELECT id_a AS a, id_b AS b FROM j WHERE dist_m <= 8000),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |      FROM e e1 JOIN e e2 ON e1.b = e2.a
        |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT id, count(*) AS n_tri FROM (
        |  SELECT x AS id FROM t
        |  UNION ALL SELECT y FROM t
        |  UNION ALL SELECT z FROM t)
        |GROUP BY 1 ORDER BY id""".stripMargin,
    "q157_pagerank" ->
      """WITH p AS (SELECT c_custkey AS id,
        |    CAST(((c_custkey // 10) // 50) % 30 AS DOUBLE) * 0.03 AS lat,
        |    CAST((c_custkey // 10) % 50 AS DOUBLE) * 0.03 AS lon
        |  FROM customer WHERE c_custkey % 10 = 0),
        |j AS (SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(round(2 * 6371000.0 * asin(sqrt(
        |      pow(sin(radians(b.lat - a.lat) / 2), 2) +
        |      cos(radians(a.lat)) * cos(radians(b.lat)) *
        |      pow(sin(radians(b.lon - a.lon) / 2), 2)))) AS BIGINT) AS dist_m
        |  FROM p a JOIN p b ON a.id < b.id),
        |e0 AS (SELECT id_a AS src, id_b AS dst FROM j WHERE dist_m <= 8000),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |ed AS (SELECT e.src, e.dst, d.deg FROM e JOIN d USING (src)),
        |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM p),
        |p1 AS (SELECT p.id, CAST(150000 + (85 * COALESCE(s.insum, 0)) // 100 AS BIGINT) AS pr
        |  FROM p LEFT JOIN (SELECT ed.dst AS id, sum(p0.pr // ed.deg) AS insum
        |    FROM ed JOIN p0 ON ed.src = p0.id GROUP BY 1) s USING (id)),
        |p2 AS (SELECT p.id, CAST(150000 + (85 * COALESCE(s.insum, 0)) // 100 AS BIGINT) AS pr
        |  FROM p LEFT JOIN (SELECT ed.dst AS id, sum(p1.pr // ed.deg) AS insum
        |    FROM ed JOIN p1 ON ed.src = p1.id GROUP BY 1) s USING (id)),
        |p3 AS (SELECT p.id, CAST(150000 + (85 * COALESCE(s.insum, 0)) // 100 AS BIGINT) AS pr
        |  FROM p LEFT JOIN (SELECT ed.dst AS id, sum(p2.pr // ed.deg) AS insum
        |    FROM ed JOIN p2 ON ed.src = p2.id GROUP BY 1) s USING (id)),
        |p4 AS (SELECT p.id, CAST(150000 + (85 * COALESCE(s.insum, 0)) // 100 AS BIGINT) AS pr
        |  FROM p LEFT JOIN (SELECT ed.dst AS id, sum(p3.pr // ed.deg) AS insum
        |    FROM ed JOIN p3 ON ed.src = p3.id GROUP BY 1) s USING (id)),
        |p5 AS (SELECT p.id, CAST(150000 + (85 * COALESCE(s.insum, 0)) // 100 AS BIGINT) AS pr
        |  FROM p LEFT JOIN (SELECT ed.dst AS id, sum(p4.pr // ed.deg) AS insum
        |    FROM ed JOIN p4 ON ed.src = p4.id GROUP BY 1) s USING (id))
        |SELECT id, pr AS pr_micro FROM p5 ORDER BY id""".stripMargin,
    "q159_bfs_hops" ->
      """WITH p AS (SELECT c_custkey AS id,
        |    CAST(((c_custkey // 10) // 50) % 30 AS DOUBLE) * 0.03 AS lat,
        |    CAST((c_custkey // 10) % 50 AS DOUBLE) * 0.03 AS lon
        |  FROM customer WHERE c_custkey % 10 = 0),
        |j AS (SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(round(2 * 6371000.0 * asin(sqrt(
        |      pow(sin(radians(b.lat - a.lat) / 2), 2) +
        |      cos(radians(a.lat)) * cos(radians(b.lat)) *
        |      pow(sin(radians(b.lon - a.lon) / 2), 2)))) AS BIGINT) AS dist_m
        |  FROM p a JOIN p b ON a.id < b.id),
        |e0 AS (SELECT id_a AS src, id_b AS dst FROM j WHERE dist_m <= 8000),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |d0 AS (SELECT id, CAST(0 AS BIGINT) AS hops FROM p WHERE id % 100 = 0),
        |d1 AS (SELECT id, min(h) AS hops FROM (
        |  SELECT id, hops AS h FROM d0
        |  UNION ALL SELECT e.dst, d0.hops + 1 FROM e JOIN d0 ON e.src = d0.id) GROUP BY 1),
        |d2 AS (SELECT id, min(h) AS hops FROM (
        |  SELECT id, hops AS h FROM d1
        |  UNION ALL SELECT e.dst, d1.hops + 1 FROM e JOIN d1 ON e.src = d1.id) GROUP BY 1),
        |d3 AS (SELECT id, min(h) AS hops FROM (
        |  SELECT id, hops AS h FROM d2
        |  UNION ALL SELECT e.dst, d2.hops + 1 FROM e JOIN d2 ON e.src = d2.id) GROUP BY 1),
        |d4 AS (SELECT id, min(h) AS hops FROM (
        |  SELECT id, hops AS h FROM d3
        |  UNION ALL SELECT e.dst, d3.hops + 1 FROM e JOIN d3 ON e.src = d3.id) GROUP BY 1),
        |d5 AS (SELECT id, min(h) AS hops FROM (
        |  SELECT id, hops AS h FROM d4
        |  UNION ALL SELECT e.dst, d4.hops + 1 FROM e JOIN d4 ON e.src = d4.id) GROUP BY 1)
        |SELECT id, hops FROM d5 ORDER BY id""".stripMargin,
    "q185_shortest_path" ->
      """WITH p AS (SELECT c_custkey AS id,
        |    CAST(((c_custkey // 10) // 50) % 30 AS DOUBLE) * 0.03 AS lat,
        |    CAST((c_custkey // 10) % 50 AS DOUBLE) * 0.03 AS lon
        |  FROM customer WHERE c_custkey % 10 = 0),
        |j AS (SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(round(2 * 6371000.0 * asin(sqrt(
        |      pow(sin(radians(b.lat - a.lat) / 2), 2) +
        |      cos(radians(a.lat)) * cos(radians(b.lat)) *
        |      pow(sin(radians(b.lon - a.lon) / 2), 2)))) AS BIGINT) AS w
        |  FROM p a JOIN p b ON a.id < b.id),
        |e0 AS (SELECT id_a AS src, id_b AS dst, w FROM j WHERE w <= 8000),
        |e AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
        |d0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM p WHERE id % 100 = 0),
        |d1 AS (SELECT id, min(d) AS dist FROM (
        |  SELECT id, dist AS d FROM d0
        |  UNION ALL SELECT e.dst, d0.dist + e.w FROM e JOIN d0 ON e.src = d0.id) GROUP BY 1),
        |d2 AS (SELECT id, min(d) AS dist FROM (
        |  SELECT id, dist AS d FROM d1
        |  UNION ALL SELECT e.dst, d1.dist + e.w FROM e JOIN d1 ON e.src = d1.id) GROUP BY 1),
        |d3 AS (SELECT id, min(d) AS dist FROM (
        |  SELECT id, dist AS d FROM d2
        |  UNION ALL SELECT e.dst, d2.dist + e.w FROM e JOIN d2 ON e.src = d2.id) GROUP BY 1),
        |d4 AS (SELECT id, min(d) AS dist FROM (
        |  SELECT id, dist AS d FROM d3
        |  UNION ALL SELECT e.dst, d3.dist + e.w FROM e JOIN d3 ON e.src = d3.id) GROUP BY 1),
        |d5 AS (SELECT id, min(d) AS dist FROM (
        |  SELECT id, dist AS d FROM d4
        |  UNION ALL SELECT e.dst, d4.dist + e.w FROM e JOIN d4 ON e.src = d4.id) GROUP BY 1)
        |SELECT id, dist FROM d5 ORDER BY id""".stripMargin,
    "q139_geo_cell_join" ->
      """WITH p AS (SELECT c_custkey AS id,
        |    CAST(c_custkey % 100 AS DOUBLE) * 0.05 AS lat,
        |    CAST(c_custkey % 97 AS DOUBLE) * 0.05 AS lon
        |  FROM customer),
        |j AS (SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(round(2 * 6371000.0 * asin(sqrt(
        |      pow(sin(radians(b.lat - a.lat) / 2), 2) +
        |      cos(radians(a.lat)) * cos(radians(b.lat)) *
        |      pow(sin(radians(b.lon - a.lon) / 2), 2)))) AS BIGINT) AS dist_m
        |  FROM p a JOIN p b ON a.id < b.id)
        |SELECT id_a, id_b, dist_m FROM j WHERE dist_m <= 10000
        |ORDER BY id_a, id_b""".stripMargin,
    "q59_geo_distance" ->
      """WITH s AS (SELECT s_suppkey,
        |    CAST(s_nationkey AS DOUBLE) * 3.0 - 36.0 AS lat,
        |    CAST(s_suppkey % 360 AS DOUBLE) - 180.0 +
        |      CAST(s_nationkey AS DOUBLE) / 50.0 AS lon
        |  FROM supplier),
        |d AS (SELECT s_suppkey, lat, lon,
        |    CAST(round(2 * 6371000.0 * asin(sqrt(
        |      pow(sin(radians(21.3069 - lat) / 2), 2) +
        |      cos(radians(lat)) * cos(radians(21.3069)) *
        |      pow(sin(radians(-157.8583 - lon) / 2), 2))) / 1000.0) AS BIGINT)
        |      AS dist_km
        |  FROM s)
        |SELECT s_suppkey, lat, lon, dist_km,
        |  (lat <= 30.0 AND lat >= -30.0 AND lon >= -180.0 AND lon <= -120.0)
        |    AS in_box
        |FROM d WHERE dist_km <= 9000 ORDER BY s_suppkey""".stripMargin,
    "q53_case_coalesce" ->
      """SELECT
        |  CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
        |    ELSE 'other' END AS status_label,
        |  coalesce(nullif(o_orderpriority, '4-NOT SPECIFIED'), 'none') AS prio,
        |  count(*) AS n
        |FROM orders GROUP BY 1, 2 ORDER BY status_label, prio""".stripMargin,
    "q57_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS plus_month,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(o_orderdate AS DATE) + 7 AS plus_week
        |FROM orders ORDER BY o_orderkey LIMIT 500""".stripMargin,
    "q56_regex_funcs" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS second_word,
        |  CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS INTEGER) AS brand_num,
        |  regexp_matches(p_type, '^[A-Z]+$') AS all_caps
        |FROM part ORDER BY p_partkey LIMIT 500""".stripMargin,
    "q54_array_funcs" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
        |  round(sqrt(list_aggregate(
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |    'sum')), 4) AS l2
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin,
    "q55_json_map" ->
      """SELECT event_type,
        |  round(avg(k), 4) AS avg_k,
        |  max(k) AS max_k
        |FROM (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events
        |) GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
