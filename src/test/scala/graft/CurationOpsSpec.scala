package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the round-10 curation/analytics additions, asserted
  * structurally (the value-level check is the DuckDB oracle):
  * the global shuffle is a permutation, cluster representatives are
  * the longest member of their own component, and funnel stages are
  * strictly ordered inside the conversion window.
  */
class CurationOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("text_global_shuffle emits a permutation of 1..N") {
    val n = Tables.documents(spark, sf).count()
    val pos = SparkEntry.queries("text_global_shuffle")(spark, sf)
      .select(col("pos")).collect().map(_.getLong(0))
    assert(pos.length == n)
    assert(pos.toSet == (1L to n).toSet)
  }

  test("dedup_representatives picks the longest member of each multi-member component") {
    import graft.queries.DedupQueries
    val pairs = DedupQueries.minhashVerifiedPairs(spark, sf)
    val docs = Tables.documents(spark, sf)
    val labels = graft.functions.PairGraph.using(pairs)(_.components(docs.select(col("doc_id"))))
    val byComp = labels.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .collect()
      .groupBy(_.getAs[Long]("component"))
    val reps = SparkEntry.queries("dedup_representatives")(spark, sf).collect()
    assert(reps.nonEmpty, "fixture should contain at least one near-dup cluster")
    reps.foreach { r =>
      val comp = r.getAs[Long]("component")
      val members = byComp(comp)
      assert(r.getAs[Long]("n_members") == members.length)
      assert(members.length > 1)
      // representative = max n_chars, doc_id tiebreak — and is a member
      val want = members.map(m =>
        (m.getAs[Long]("n_chars"), -m.getAs[Long]("doc_id"))).max
      assert(r.getAs[Long]("rep_id") == -want._2)
      assert(r.getAs[Long]("rep_chars") == want._1)
    }
    // every multi-member component is reported
    assert(reps.length == byComp.count(_._2.length > 1))
  }

  test("events_funnel stages are ordered and inside the 24h window") {
    import graft.queries.EventQueries.FunnelWindowMs
    val rows = SparkEntry.queries("events_funnel")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val reached = r.getAs[Int]("reached")
      val t1 = r.getAs[Long]("t1_ms")
      val t2 = Option(r.getAs[java.lang.Long]("t2_ms")).map(_.longValue)
      val t3 = Option(r.getAs[java.lang.Long]("t3_ms")).map(_.longValue)
      assert(reached == 1 + t2.size + t3.size)
      assert(t3.isEmpty || t2.nonEmpty, "stage 3 requires stage 2")
      t2.foreach(t => assert(t > t1 && t <= t1 + FunnelWindowMs))
      (t2, t3) match {
        case (Some(a), Some(b)) => assert(b > a && b <= a + FunnelWindowMs)
        case _ =>
      }
    }
  }

  test("events_runs partitions each user's history into maximal same-type runs") {
    val rows = SparkEntry.queries("events_runs")(spark, sf).collect()
    val total = Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("run_len")).sum == total,
      "runs must cover every event exactly once")
    assert(rows.exists(_.getAs[Long]("run_len") > 1),
      "fixture must contain at least one multi-event run")
    // maximality: adjacent runs of one user never share a type
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rs) =>
      rs.sortBy(_.getAs[Long]("run_start_ms")).sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[String]("event_type") != b.getAs[String]("event_type"))
          assert(a.getAs[Long]("run_end_ms") <= b.getAs[Long]("run_start_ms"))
        case _ =>
      }
    }
  }

  test("taxi_concurrency sweep overlaps and returns to zero") {
    val rows = SparkEntry.queries("taxi_concurrency")(spark, sf)
      .collect().sortBy(_.getAs[Long]("t_ms"))
    assert(rows.forall(_.getAs[Long]("concurrency") >= 0))
    assert(rows.exists(_.getAs[Long]("concurrency") > 1),
      "fixture intervals must actually overlap or the sweep is vacuous")
    assert(rows.last.getAs[Long]("concurrency") == 0,
      "after the last interval ends nothing is in progress")
  }

  test("text_boilerplate finds repeated lines and bounds them by n_lines") {
    val rows = SparkEntry.queries("text_boilerplate")(spark, sf).collect()
    assert(rows.exists(_.getAs[Long]("n_boiler") > 0),
      "fixture must contain cross-doc repeated lines")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_boiler") <= r.getAs[Long]("n_lines"))
    }
  }

  test("dedup_triangles equals brute-force closure over the pair graph") {
    import graft.queries.DedupQueries
    val edges = DedupQueries.minhashVerifiedPairs(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val verts = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    def conn(x: Long, y: Long) =
      edges.contains((math.min(x, y), math.max(x, y)))
    val want = (for {
      a <- verts; b <- verts if a < b && conn(a, b)
      c <- verts if b < c && conn(a, c) && conn(b, c)
    } yield (a, b, c)).toSet
    val got = SparkEntry.queries("dedup_triangles")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "fixture graph must contain triangles")
    assert(got == want)
  }

  test("events_rolling_wau equals brute-force trailing-7-day distinct") {
    import graft.queries.EventQueries.{DayMs, RetentionEpochMs}
    val act = Tables.events(spark, sf)
      .select(col("user_id"),
        expr(s"(unix_millis(ts) - $RetentionEpochMs) div $DayMs").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val maxDay = act.map(_._2).max
    val got = SparkEntry.queries("events_rolling_wau")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (day, wau) =>
      val want = act.filter(a => a._2 <= day && a._2 >= day - 6)
        .map(_._1).distinct.length
      assert(wau == want, s"day $day")
    }
    assert(got.keys.max == maxDay, "horizon is the data's max day")
  }

  test("text_table_checksum flips on any single-row mutation, and is order-invariant") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val base = SparkEntry.queries("text_table_checksum")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // same rows in a different physical order → identical fingerprint
    val shuffled = graft.queries.TextQueries.tableChecksumOf(
      Tables.documents(spark, sf).repartition(7).sortWithinPartitions(col("n_chars")))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(shuffled == base)
    // mutate ONE row's text → only that source's fingerprint changes
    val tampered = graft.queries.TextQueries.tableChecksumOf(
      Tables.documents(spark, sf).withColumn("text",
        when(col("doc_id") === 0, concat(col("text"), lit("x")))
          .otherwise(col("text"))))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val changed = base.keys.filter(k => base(k) != tampered(k))
    assert(changed.size == 1)
  }

  test("text_pii_redact leaves no live PII behind") {
    import graft.queries.TextQueries.{PiiEmailRe, PiiIpRe, PiiPhoneRe}
    val rows = SparkEntry.queries("text_pii_redact")(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("n_emails")).sum > 0)
    assert(rows.map(_.getAs[Int]("n_phones")).sum > 0)
    assert(rows.map(_.getAs[Int]("n_ips")).sum > 0)
    // re-running detection over the redacted text finds nothing: the
    // md5 is oracle-pinned, so rebuild the redacted string here
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      var t = docs(id)
      if (id % 3 == 0) t += s" contact user$id@example.com"
      if (id % 5 == 0) t += s" call 555-${"%04d".format(id * 7 % 10000)}"
      if (id % 7 == 0) t += s" host 10.${id % 256}.0.${id * 3 % 256}"
      val red = t.replaceAll(PiiEmailRe, "<EMAIL>")
        .replaceAll(PiiPhoneRe, "<PHONE>").replaceAll(PiiIpRe, "<IP>")
      assert(PiiEmailRe.r.findFirstIn(red).isEmpty)
      assert(PiiPhoneRe.r.findFirstIn(red).isEmpty)
      assert(red.length == r.getAs[Int]("redacted_len"))
    }
  }

  test("text_drift_chi2: terms match a brute recompute; the length effect is real") {
    val rows = SparkEntry.queries("text_drift_chi2")(spark, sf).collect()
    val byDim = rows.groupBy(_.getAs[String]("dim"))
    assert(byDim.keySet == Set("len_band", "source"))
    byDim.foreach { case (_, cells) =>
      val tr = cells.map(_.getAs[Long]("n_ref")).sum
      val tc = cells.map(_.getAs[Long]("n_cur")).sum
      assert(tc > 0 && tc < tr, "gate must keep some and drop some")
      cells.foreach { c =>
        val e = c.getAs[Long]("n_ref").toDouble * tc / tr
        val want = (c.getAs[Long]("n_cur") - e) * (c.getAs[Long]("n_cur") - e) / e
        assert(math.abs(c.getAs[Double]("term_r") - want) <= 1e-4,
          s"${c.getAs[String]("dim")}/${c.getAs[String]("category")}: " +
            s"term ${c.getAs[Double]("term_r")} vs brute $want")
      }
    }
    // the drift the fixture really carries: short docs fail the
    // stopword-ratio gate more than long docs (measured 0.49-0.69 vs
    // 0.68-0.82 across the SF ladder) — the top length band's
    // survival rate must beat the bottom band's
    val bands = byDim("len_band")
      .map(c => c.getAs[String]("category").toInt ->
        (c.getAs[Long]("n_cur").toDouble / c.getAs[Long]("n_ref")))
      .sortBy(_._1)
    assert(bands.last._2 > bands.head._2,
      s"length effect missing: kept rates ${bands.mkString(", ")}")
    // every ref category survives into the relation, even if gated low
    assert(byDim("source").map(_.getAs[String]("category")).toSet ==
      Tables.documents(spark, sf).select(col("source")).distinct()
        .collect().map(_.getString(0)).toSet)
    // the statistic is not identically zero anywhere it shouldn't be
    assert(rows.exists(_.getAs[Double]("term_r") > 0.0))
  }
}
