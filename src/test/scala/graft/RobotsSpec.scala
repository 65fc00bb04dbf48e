package graft

import org.apache.spark.sql.functions._
import graft.plans.RobotsAllowed
import graft.text.Robots

class RobotsSpec extends SparkSuite {

  private def ok(robots: String, agent: String, path: String): Boolean =
    RobotsAllowed.allowed(robots, agent, path) == 1

  test("longest-prefix wins; ties go to Allow; no match allows") {
    val r = "User-agent: *\nDisallow: /a\nAllow: /a/b\n"
    assert(!ok(r, "bot", "/a/x"))
    assert(ok(r, "bot", "/a/b/deep"))
    assert(ok(r, "bot", "/elsewhere"))
    val tie = "User-agent: *\nDisallow: /ab\nAllow: /ab\n"
    assert(ok(tie, "bot", "/abc"), "equal-length rules: Allow wins")
  }

  test("own group eclipses the * group entirely (most-specific-group rule)") {
    val r = "User-agent: *\nDisallow: /\n\nUser-agent: graftbot\nDisallow: /private\n"
    assert(ok(r, "graftbot", "/anything"), "the * Disallow:/ must be IGNORED")
    assert(!ok(r, "graftbot", "/private/x"))
    assert(!ok(r, "otherbot", "/anything"), "others still fall to *")
  }

  test("comments, unknown directives, casing, empty Disallow, blank lines") {
    val r = "# top comment\nUSER-AGENT: GraftBot  # inline\nCrawl-delay: 5\n" +
      "Disallow:\n\nDisallow: /x # comment\n"
    assert(ok(r, "graftbot", "/anything"), "empty Disallow matches nothing")
    assert(!ok(r, "graftbot", "/x/y"),
      "blank lines must NOT end the group (RFC 9309) and casing is insensitive")
  }

  test("consecutive User-agent lines share one rule set") {
    val r = "User-agent: a\nUser-agent: graftbot\nDisallow: /x\n\n" +
      "User-agent: b\nDisallow: /y\n"
    assert(!ok(r, "graftbot", "/x/1"), "second UA of the run owns the rules")
    assert(ok(r, "graftbot", "/y/1"), "the b group's rules do not apply")
    // a UA line AFTER rules starts a NEW group — it must not inherit /x
    val r2 = "User-agent: graftbot\nDisallow: /x\nUser-agent: c\nDisallow: /z\n"
    assert(ok(r2, "c", "/x/1"))
    assert(!ok(r2, "c", "/z/1"))
  }

  test("wildcards: * spans path segments, final $ anchors, longest pattern wins") {
    val r = "User-agent: *\nDisallow: /*.tmp$\nAllow: /cgi/*/pub\nDisallow: /cgi/\n"
    assert(!ok(r, "bot", "/file.tmp"), "anchored extension block")
    assert(!ok(r, "bot", "/deep/dir/file.tmp"), "* crosses '/' segments")
    assert(ok(r, "bot", "/file.tmp.bak"), "$ means END: longer path escapes")
    assert(ok(r, "bot", "/cgi/x/pub/page"), "wildcard Allow outranks shorter Disallow")
    assert(!ok(r, "bot", "/cgi/x/other"), "the /cgi/ prefix still blocks elsewhere")
  }

  test("pattern matcher corners: mid-pattern $, trailing *, exact anchor") {
    assert(!ok("User-agent: *\nDisallow: /a$b\n", "bot", "/a$b/c"),
      "a non-final $ is a literal octet — the rule matches and blocks")
    assert(ok("User-agent: *\nDisallow: /a$b\n", "bot", "/ab"),
      "the literal $ must actually be present for the rule to match")
    assert(!ok("User-agent: *\nDisallow: /x*$\n", "bot", "/x/anything"),
      "'*$' tail means anything-to-end — still a match")
    val exact = "User-agent: *\nDisallow: /only$\n"
    assert(!ok(exact, "bot", "/only"))
    assert(ok(exact, "bot", "/only/more"))
    assert(ok(exact, "bot", "/onl"))
  }

  test("patMatch property: agrees with a regex-built reference on random patterns") {
    // independent oracle: compile the RFC pattern to a Java regex
    // (quoted literal segments, .* for '*', anchored when final '$')
    def refMatch(pattern: String, path: String): Boolean = {
      val anchored = pattern.nonEmpty && pattern.last == '$'
      val pat = if (anchored) pattern.dropRight(1) else pattern
      val re = pat.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*")
      val full = "\\A" + re + (if (anchored) "\\z" else ".*")
      java.util.regex.Pattern.compile(full, java.util.regex.Pattern.DOTALL)
        .matcher(path).matches()
    }
    val rnd = new scala.util.Random(42)
    val alphabet = "ab/.$*"
    def randStr(max: Int): String =
      (0 until rnd.nextInt(max)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    var checked = 0
    for (_ <- 1 to 5000) {
      val pattern = "/" + randStr(8)
      val path = "/" + randStr(10)
      // a non-final '$' inside the pattern is literal in BOTH matchers
      val robots = s"User-agent: *\nDisallow: $pattern\n"
      val mine = graft.plans.RobotsAllowed.allowed(robots, "bot", path) == 0
      val ref = refMatch(pattern, path)
      assert(mine == ref, s"pattern '$pattern' path '$path': mine=$mine ref=$ref")
      checked += 1
    }
    assert(checked == 5000)
  }

  test("robots_meta: matched-group crawl-delay, sitemaps from anywhere, tolerant parse") {
    import graft.plans.RobotsMeta
    def meta(robots: String, agent: String) = {
      val r = RobotsMeta.meta(robots, agent)
      (if (r.isNullAt(0)) None else Some(r.getInt(0)),
        (0 until r.getArray(1).numElements())
          .map(i => r.getArray(1).getUTF8String(i).toString))
    }
    val txt = "Sitemap: https://a/s1.xml\nUser-agent: *\nCrawl-delay: 2\n" +
      "Disallow: /x\n\nUser-agent: graftbot\nCrawl-delay: 0.25\n" +
      "Sitemap: https://a/s2.xml\n"
    assert(meta(txt, "graftbot") == (Some(250), Seq("https://a/s1.xml", "https://a/s2.xml")),
      "own group's fractional delay wins; sitemaps are group-independent, file order")
    assert(meta(txt, "otherbot")._1 == Some(2000), "others fall to the * group")
    assert(meta("User-agent: *\nDisallow: /\n", "bot") == (None, Seq.empty),
      "absent delay is null, not zero")
    assert(meta("User-agent: *\nCrawl-delay: soon\n", "bot")._1 == None,
      "unparsable delay is null, never a throw")
    import spark.implicits._
    val viaColumn = Seq("Sitemap: https://a/s.xml\nUser-agent: *\nCrawl-delay: 1\n").toDF("r")
      .select(Robots.robotsMeta(col("r"), lit("bot")).as("m"))
      .select("m.crawl_delay_ms", "m.sitemaps").head()
    assert(viaColumn.getInt(0) == 1000 && viaColumn.getSeq[String](1) == Seq("https://a/s.xml"),
      "whole-second delay in ms through the column API")
  }

  test("gated query agrees with a direct reading of the planted rules") {
    // doc_id%9 picks the path, doc_id%3 the group; 3 | 9, so each path
    // case pins one group: k%3==0 → own graftbot group, else the * group
    val rows = Robots.crawlScreen(spark, Sf).orderBy("doc_id").limit(54).collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val allowed = r.getAs[Int]("allowed") == 1
      val expected = (id % 9) match {
        case 0 => true  // own group: no rule matches /private/pub/x
        case 1 => false // *: Disallow /private
        case 2 => false // *: Disallow /data{d}
        case 3 => false // own: Disallow /bot
        case 4 => true  // no rule matches /public/page
        case 5 => false // *: Disallow /private exactly
        case 6 => false // own: anchored /*.tmp$ hits /file.tmp
        case 7 => true  // anchored pattern does NOT hit /file.tmp.bak
        case _ => true  // *: Allow /cgi/*/pub outranks Disallow /cgi/
      }
      assert(allowed == expected, s"doc $id path ${r.getAs[String]("path")}")
    }
  }

  test("plan is map-only") {
    val plan = Robots.crawlScreen(spark, Sf).queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"))
  }

  test("fetch-status policy (RFC 9309 2.3.1): unavailable allows, unreachable disallows, 2xx/3xx parse") {
    val rows = graft.text.Robots.statusScreen(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("status"), r.getAs[String]("policy"), r.getAs[Int]("allowed")))).toMap
    val screen = graft.text.Robots.crawlScreen(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("allowed")).toMap
    rows.foreach { case (id, (status, policy, allowed)) =>
      (id % 7) match {
        case 3 | 4 =>
          assert(policy == "allow_all" && allowed == 1, s"doc $id: 4xx must allow")
        case 5 | 6 =>
          assert(policy == "disallow_all" && allowed == 0, s"doc $id: 5xx/429 must disallow")
        case _ =>
          assert(policy == "parse", s"doc $id")
          assert(allowed == screen(id),
            s"doc $id: parse class must defer to the real evaluator")
      }
      assert(Set(200, 301, 404, 403, 503, 429).contains(status))
    }
  }
}
