package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental portal sync: cold-cache full fetch, warm-cache delta fetch
  * (`$where watermark >= high-water-mark` pushed server-side) + keyed
  * upsert, verified row-for-row against a full re-fetch — over both the
  * local twin ([[GraftClient.refreshCache]]) and the live HTTP transport
  * ([[PortalSync.refreshHttp]] against a loopback server).
  */
class PortalSyncSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).resolve("t").toString

  // (id, name, updated_at) — ISO strings order lexicographically ==
  // chronologically, the watermark shape Socrata's :updated_at serves
  private val v1 = Seq(
    (1L, "alpha", "2020-01-01T00:00:00"),
    (2L, "beta", "2020-01-02T00:00:00"),
    (3L, "gamma", "2020-01-03T00:00:00"))
  private val v2 = Seq(
    (1L, "alpha", "2020-01-01T00:00:00"),     // untouched
    (2L, "beta-v2", "2020-01-04T00:00:00"),   // updated past the mark
    (3L, "gamma", "2020-01-03T00:00:00"),     // boundary row, unchanged
    (4L, "delta", "2020-01-05T00:00:00"))     // new key
  private def df(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("id", "name", "updated_at")

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    val g = got.select(col("id").cast("long"), col("name"),
      col("updated_at").cast("string"))
    val w = want.select(col("id").cast("long"), col("name"),
      col("updated_at").cast("string"))
    assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty,
      s"rows differ:\n got=${g.orderBy("id").collect().mkString}\n " +
        s"want=${w.orderBy("id").collect().mkString}")
  }

  test("local twin: cold refresh materializes the full table; warm " +
    "refresh fetches only the delta and matches a full re-fetch") {
    val tableDir = java.nio.file.Files.createTempDirectory("psync-tbl")
      .toString
    val cache = tmp("psync-cache")
    df(v1).write.parquet(s"$tableDir/ds.parquet")
    val client = new GraftClient(spark, tableDir)
    assertSame(
      client.refreshCache("ds", cache, Seq("id"), "updated_at"), df(v1))
    // the portal moves on: an update past the mark + a new key
    df(v2).write.mode("overwrite").parquet(s"$tableDir/ds.parquet")
    val refreshed =
      client.refreshCache("ds", cache, Seq("id"), "updated_at")
    assertSame(refreshed, df(v2))
    // and the cache file itself holds the merged state
    assertSame(spark.read.parquet(cache), df(v2))
  }

  test("local twin: fetchSince filters at-or-past the watermark and ANDs " +
    "with caller params") {
    val tableDir = java.nio.file.Files.createTempDirectory("psync-fs")
      .toString
    df(v2).write.parquet(s"$tableDir/ds.parquet")
    val client = new GraftClient(spark, tableDir)
    val since = client.fetchSince("ds", "updated_at", "2020-01-03T00:00:00")
    assert(since.select("id").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L, 4L))
    val filtered = client.fetchSince("ds", "updated_at",
      "2020-01-03T00:00:00", SoqlParams(where = Some("id < 4")))
    assert(filtered.select("id").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L))
  }

  test("no-op refresh: an empty delta rewrites nothing") {
    val tableDir = java.nio.file.Files.createTempDirectory("psync-noop")
      .toString
    val cache = tmp("psync-noop-cache")
    df(v1).write.parquet(s"$tableDir/ds.parquet")
    val client = new GraftClient(spark, tableDir)
    client.refreshCache("ds", cache, Seq("id"), "updated_at")
    val before = new java.io.File(cache).lastModified()
    Thread.sleep(5)
    // boundary row 3 re-fetches but upserts to an identical state; rows
    // strictly before the mark never travel
    assertSame(
      client.refreshCache("ds", cache, Seq("id"), "updated_at"), df(v1))
    assertSame(spark.read.parquet(cache), df(v1))
  }

  test("watermark precondition: a delta row stamped below the cache's " +
    "high-water mark is not merged") {
    // a stream sink's call shape: each micro-batch is both the full fetch
    // (cold cache) and the delta source, filtered by the rendered mark
    val cache = tmp("psync-batches")
    def sync(batch: DataFrame): DataFrame =
      PortalSync.refresh(spark, cache, Seq("id"), "updated_at",
        fetchFull = () => batch, fetchDelta = pred => batch.where(pred))
    sync(df(v1))
    // a batch that arrives out of watermark order: key 5 is new, but its
    // stamp is below the cache's mark (2020-01-03), so `>=` drops it
    val late = (5L, "epsilon", "2020-01-02T12:00:00")
    val merged = sync(df(Seq(late, (6L, "zeta", "2020-01-06T00:00:00"))))
    assert(merged.select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 6L))
  }

  /** Loopback SODA server over a mutable row set, with a tiny `$where`
    * evaluator for the one predicate shape the sync emits:
    * `col >= 'literal'`. Records every request's query params.
    */
  private def startSyncServer(resource: String)
  : (String, com.sun.net.httpserver.HttpServer,
     java.util.concurrent.atomic.AtomicReference[Seq[(Long, String, String)]],
     scala.collection.mutable.ArrayBuffer[Map[String, String]]) = {
    val data = new java.util.concurrent.atomic.AtomicReference[
      Seq[(Long, String, String)]](Nil)
    val seen = new scala.collection.mutable.ArrayBuffer[Map[String, String]]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext(s"/resource/$resource.json",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
          .split("&").filter(_.nonEmpty).map { kv =>
            val Array(k, v) = kv.split("=", 2)
            java.net.URLDecoder.decode(k, "UTF-8") ->
              java.net.URLDecoder.decode(v, "UTF-8")
          }.toMap
        seen.synchronized { seen += params }
        val where = params.get("$where")
        val pred: ((Long, String, String)) => Boolean = where match {
          case Some(w) =>
            val m = "(\\w+) >= '([^']*)'".r.findFirstMatchIn(w).getOrElse(
              sys.error(s"unsupported test $$where: $w"))
            assert(m.group(1) == "updated_at")
            val lit = m.group(2)
            r => r._3 >= lit
          case None => _ => true
        }
        val limit = params.get("$limit").map(_.toInt).getOrElse(1000)
        val offset = params.get("$offset").map(_.toInt).getOrElse(0)
        val body = data.get().filter(pred).sortBy(_._1)
          .slice(offset, offset + limit)
          .map { case (id, name, up) =>
            s"""{"id":$id,"name":"$name","updated_at":"$up"}""" }
          .mkString("[", ",", "]").getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
    server.start()
    (s"http://127.0.0.1:${server.getAddress.getPort}", server, data, seen)
  }

  test("HTTP sync: base fetch + watermark delta == full re-fetch, " +
    "row-for-row, with $where pushed to the server") {
    val (base, server, data, seen) = startSyncServer("ds-sync")
    val cache = tmp("psync-http-cache")
    try {
      data.set(v1)
      val first = PortalSync.refreshHttp(spark, base, "ds-sync",
        order = "id", keys = Seq("id"), watermarkCol = "updated_at",
        cachePath = cache, pageSize = 2)
      assertSame(first, df(v1))
      assert(seen.synchronized(seen.forall(!_.contains("$where"))),
        "cold sync must not send a watermark filter")
      seen.synchronized(seen.clear())
      data.set(v2)
      val second = PortalSync.refreshHttp(spark, base, "ds-sync",
        order = "id", keys = Seq("id"), watermarkCol = "updated_at",
        cachePath = cache, pageSize = 2)
      // merged cache == what a from-scratch full fetch would return
      assertSame(second, df(v2))
      assertSame(spark.read.parquet(cache), df(v2))
      // the delta request carried the server-side watermark predicate,
      // and only delta rows traveled (3 matching rows -> 2 pages, vs 2
      // full pages + terminator for a re-fetch of all 4)
      val whereSeen = seen.synchronized(seen.flatMap(_.get("$where")))
      assert(whereSeen.nonEmpty &&
        whereSeen.forall(_ == "updated_at >= '2020-01-03T00:00:00'"),
        s"delta $$where: $whereSeen")
    } finally server.stop(0)
  }

  test("single-writer lock: a held lock fails a second refresh loudly " +
    "and leaves the cache untouched; the lock is released on success " +
    "AND when the fetch throws") {
    val cache = tmp("psync-lock")
    val lock = new java.io.File(cache + ".lock")
    // a normal refresh acquires and releases the lock
    assertSame(PortalSync.refresh(spark, cache, Seq("id"), "updated_at",
      fetchFull = () => df(v1), fetchDelta = _ => df(v1)), df(v1))
    assert(!lock.exists, "lock must not outlive a successful refresh")
    // a held lock (concurrent refresh, or a crashed holder) fails LOUDLY,
    // names the lock path, and leaves the cache bytes untouched
    assert(lock.createNewFile())
    val e = intercept[IllegalStateException] {
      PortalSync.refresh(spark, cache, Seq("id"), "updated_at",
        fetchFull = () => df(v2), fetchDelta = _ => df(v2))
    }
    assert(e.getMessage.contains(".lock"), e.getMessage)
    assertSame(spark.read.parquet(cache), df(v1))
    assert(lock.delete())
    // the lock is released even when the fetch throws mid-refresh
    intercept[RuntimeException] {
      PortalSync.refresh(spark, cache, Seq("id"), "updated_at",
        fetchFull = () => df(v1),
        fetchDelta = _ => sys.error("portal down"))
    }
    assert(!lock.exists, "lock must be released on a failed refresh")
    // and the path is fully usable again afterwards
    assertSame(PortalSync.refresh(spark, cache, Seq("id"), "updated_at",
      fetchFull = () => df(v2), fetchDelta = _ => df(v2)), df(v2))
    assert(!lock.exists)
  }
}
