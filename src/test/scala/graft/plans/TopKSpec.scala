package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKSpec extends SparkSpec {

  private def windowForm(k: Int) = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    graft.Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  private def topkForm(k: Int) =
    TopK.perKey(graft.Tables.orders(spark, sfDir), Seq("o_custkey"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), k)

  test("matches the window row_number formulation exactly (total order)") {
    Seq(1, 3, 10).foreach { k =>
      val expect = windowForm(k).collect().map(_.toSeq).toSet
      val got = topkForm(k).collect().map(_.toSeq).toSet
      assert(got == expect, s"k=$k: ${got.size} vs ${expect.size} rows")
    }
  }

  test("k larger than every group passes all rows through") {
    val n = graft.Tables.orders(spark, sfDir).count()
    assert(topkForm(1000000).count() == n)
  }

  test("plans as partial + exchange + final — no Window, no full Sort") {
    val p = topkForm(3).queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKeyPartial"), p.take(1500))
    assert(p.contains("TopKPerKeyFinal"), p.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("Sort "), p.take(1500))
  }

  test("partial pass bounds the shuffle: at most keys x k rows cross the wire") {
    // run on a 4-partition layout; the partial output is what the exchange
    // reads — measure it directly by executing only the partial subtree
    // (AQE off so the physical tree is concrete, not an adaptive wrapper;
    // executedPlan is lazy, so the flag must stay off until it's forced)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = topkForm(2)
      val exec = df.queryExecution.executedPlan
      val partial = exec.collect {
        case t: TopKPerKeyExec if t.partial => t
      }.head
      val partialRows = partial.execute().count()
      val nKeys = graft.Tables.orders(spark, sfDir)
        .select(col("o_custkey")).distinct().count()
      assert(partialRows <= nKeys * 2 * 4,
        s"partial emitted $partialRows rows for $nKeys keys")
      // and never more than the final result needs per partition layout
      assert(df.count() <= nKeys * 2)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("partial pass flushes past the key cap: bounded memory, same answer") {
    // Force the spill valve: cap the partial heap map at 8 live keys while
    // orders has ~100+ custkeys per input partition. Every flush restarts
    // the map, so the partial output may carry a key several times (≤
    // flushes×k rows) — the final pass re-merges to exactly top-k. The
    // answer must be bit-identical to the unbounded run for ANY cap,
    // including the pathological cap of 1 (flush on every new key — the
    // partial degenerates to a near-passthrough but stays correct).
    Seq("8", "1").foreach { cap =>
      spark.conf.set("graft.topk.partialFlushKeys", cap)
      try {
        val expect = windowForm(3).collect().map(_.toSeq).toSet
        val got = topkForm(3).collect().map(_.toSeq).toSet
        assert(got == expect, s"cap=$cap: ${got.size} vs ${expect.size} rows")
      } finally spark.conf.unset("graft.topk.partialFlushKeys")
    }
  }

  test("flush cap actually bounds the live map (flushes observed)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("graft.topk.partialFlushKeys", "4")
    try {
      val exec = topkForm(2).queryExecution.executedPlan
      val partial = exec.collect { case t: TopKPerKeyExec if t.partial => t }.head
      val partialRows = partial.execute().count()
      val nKeys = graft.Tables.orders(spark, sfDir)
        .select(col("o_custkey")).distinct().count()
      // with a 4-key cap and ~interleaved keys, the partial MUST re-emit
      // keys across flushes: more rows than one unbounded pass would ship
      assert(partialRows > nKeys * 2,
        s"cap=4 partial emitted only $partialRows rows for $nKeys keys — " +
          "flushing never happened")
      // and the SQL metrics see it: flush count > 0, output rows == count
      assert(partial.metrics("numFlushes").value > 0)
      assert(partial.metrics("numOutputRows").value == partialRows)
    } finally {
      spark.conf.unset("graft.topk.partialFlushKeys")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("flush cap conf: a non-integer or a value below 1 fails naming the key") {
    // the error may surface wrapped by query execution; the cause chain
    // must carry an IllegalArgumentException that names the conf key
    def failure(cap: String): IllegalArgumentException = {
      spark.conf.set("graft.topk.partialFlushKeys", cap)
      try {
        val e = intercept[Exception](topkForm(3).collect())
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case iae: IllegalArgumentException => iae }
          .getOrElse(fail(s"cap=$cap raised no IllegalArgumentException", e))
      } finally spark.conf.unset("graft.topk.partialFlushKeys")
    }
    Seq("lots" -> "must be an integer", "0" -> "at least 1",
      "-5" -> "at least 1").foreach { case (cap, why) =>
      val msg = failure(cap).getMessage
      assert(msg.contains("graft.topk.partialFlushKeys") && msg.contains(why),
        s"cap=$cap: $msg")
    }
  }

  test("works grouped by a string key with asc ordering") {
    val got = TopK.perKey(graft.Tables.documents(spark, sfDir),
      Seq("lang"), Seq(col("n_chars").asc, col("doc_id").asc), 2)
      .select(col("lang"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    val expect = graft.Tables.documents(spark, sfDir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select(col("lang"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expect)
  }
}
