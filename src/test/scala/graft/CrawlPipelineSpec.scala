package graft

import graft.pipelines.CrawlPipeline

class CrawlPipelineSpec extends SparkSuite {

  test("one row per document survives the whole chain") {
    val n = Tables.documents(spark, Sf).count()
    assert(CrawlPipeline.crawl(spark, Sf).count() == n)
  }

  test("NFC stage is observable: the decomposed plant arrives composed") {
    val r = CrawlPipeline.crawl(spark, Sf).limit(5).collect()
    r.foreach { row =>
      val t = row.getAs[String]("clean_text")
      assert(t.endsWith(" \u1E8Dend"), s"expected composed U+1E8D tail, got ...${t.takeRight(8)}")
      assert(!t.contains("\u0308"), "no combining mark may survive NFC")
    }
  }

  test("canonicalization scrubbed scheme case, www, default ports, tracking, fragments") {
    CrawlPipeline.crawl(spark, Sf).limit(50).collect().foreach { row =>
      val c = row.getAs[String]("canon")
      assert(c.startsWith("http://crawl") || c.startsWith("https://crawl"), c)
      assert(!c.contains("WWW.") && !c.contains(":80") && !c.contains(":443"), c)
      assert(!c.contains("utm_") && !c.contains("#"), c)
    }
  }

  test("fetch schedule: per-host running-delay offsets, one scheduling exchange") {
    val rows = CrawlPipeline.fetchSchedule(spark, Sf)
      .orderBy("host", "seq").collect()
    assert(rows.nonEmpty)
    // within a host: seq contiguous from 1; not_before = running sum of
    // the PRIOR fetches' delays, strictly nondecreasing
    ScheduleChecks.assertPoliteSchedule(rows.toSeq)
    val plan = CrawlPipeline.fetchSchedule(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      "exactly the one per-host scheduling exchange")
  }

  test("crawl schedule rides the full chain: screened, delayed, ONE exchange") {
    val rows = CrawlPipeline.crawlSchedule(spark, Sf)
      .orderBy("host", "seq").collect()
    assert(rows.nonEmpty)
    // screening bites: disallowed pages never reach the scheduler
    val total = graft.Tables.documents(spark, Sf).count()
    assert(rows.length < total, "robots screening must drop some pages")
    ScheduleChecks.assertPoliteSchedule(rows.toSeq)
    // the X120 discipline holds with the schedule riding along: the
    // per-host window is the ONLY hash exchange in the whole chain
    val plan = CrawlPipeline.crawlSchedule(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"exactly the one scheduling exchange:\n$plan")
  }

  test("budget: largest-remainder allocation spends exactly the budget, within 1 of exact share") {
    val rows = CrawlPipeline.crawlBudget(spark, Sf).collect()
    val budget = CrawlPipeline.PageBudget
    assert(rows.map(_.getAs[Long]("alloc")).sum == budget, "Σ alloc == budget")
    val total = rows.map(_.getAs[Long]("n_clean")).sum
    rows.foreach { r =>
      val fl = budget * r.getAs[Long]("n_clean") / total
      val a = r.getAs[Long]("alloc")
      assert(a == fl || a == fl + 1, s"${r.getAs[String]("host")}: $a not in {$fl, ${fl + 1}}")
    }
    // the top-up went to the LARGEST remainders (ties by host name)
    val byRem = rows.map { r =>
      (budget * r.getAs[Long]("n_clean") % total, r.getAs[String]("host"),
        r.getAs[Long]("alloc") - budget * r.getAs[Long]("n_clean") / total)
    }.sortBy { case (rem, host, _) => (-rem, host) }
    val k = byRem.count(_._3 == 1L)
    assert(byRem.take(k).forall(_._3 == 1L), s"top-ups must be the $k largest remainders")
  }

  test("host report: counts reconcile with the chain's own output, one exchange") {
    val rows = CrawlPipeline.hostReport(spark, Sf).collect()
    val total = Tables.documents(spark, Sf).count()
    assert(rows.map(_.getAs[Long]("n_pages")).sum == total,
      "every page lands in exactly one host bucket")
    // cross-check the per-host splits against the gated chain output
    val chain = CrawlPipeline.crawl(spark, Sf)
      .selectExpr("canon", "status", "allowed", "stage").collect()
      .map(r => (r.getString(0).replaceAll("^https?://", "").takeWhile(_ != '/'),
        r.getInt(1), r.getInt(2), r.getInt(3)))
    rows.foreach { r =>
      val host = r.getAs[String]("host")
      val hs = chain.filter(_._1 == host)
      assert(r.getAs[Long]("n_pages") == hs.length, host)
      assert(r.getAs[Long]("n_allowed") == hs.count(_._3 == 1), host)
      assert(r.getAs[Long]("n_ok") == hs.count(_._2 == 200), host)
      assert(r.getAs[Long]("n_redirect") == hs.count(_._2 == 301), host)
      assert(r.getAs[Long]("n_notfound") == hs.count(_._2 == 404), host)
      assert(r.getAs[Long]("n_clean") ==
        hs.count(t => t._3 == 1 && t._4 >= 6), host)
    }
    val plan = CrawlPipeline.hostReport(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      "only the host rollup may shuffle")
  }

  test("plan shape: ONE hash exchange (the dedup fingerprint window), map-only otherwise") {
    val plan = CrawlPipeline.crawl(spark, Sf).queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected exactly one hash exchange, got $hashEx\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      "the chain must not join — every stage is a per-row expression")
    // the widen exchange must move RAW rows: any Filter/Project pushed
    // below it (a pushable sniff predicate, an inferred size(...)>0 from
    // a non-outer explode) would run the whole blob computation on the
    // NARROW pre-widen partitions — the regression this spec pins out
    val lines = plan.split("\n")
    val widenAt = lines.indexWhere(l => l.contains("Exchange") && l.toLowerCase.contains("roundrobin"))
    assert(widenAt >= 0 && widenAt + 1 < lines.length,
      s"widen exchange missing from plan:\n$plan")
    assert(lines(widenAt + 1).contains("Scan") || lines(widenAt + 1).contains("FileScan"),
        s"only the scan may sit below the widen exchange:\n${lines.slice(widenAt, widenAt + 3).mkString("\n")}")
  }
}
