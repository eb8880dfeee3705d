package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("urlCanonicalize: RFC 3986 normalization edges the fixture query skips") {
    val cases = Seq(
      // non-default port survives; path case preserved
      "https://A.example.org:8443/KeepCase?b=1&a=2" ->
        "https://a.example.org:8443/KeepCase?a=2&b=1",
      // :443 only strips for https, :80 only for http
      "http://x.org:443/p" -> "http://x.org:443/p",
      "https://x.org:80/p" -> "https://x.org:80/p",
      // utm-only query loses its '?'; fragment-only URL keeps bare path
      "http://x.org/p?utm_a=1&utm_b=2#top" -> "http://x.org/p",
      // empty path + no query normalizes to '/'
      "HTTPS://X.ORG" -> "https://x.org/",
      // unknown scheme: ports untouched, still lowercased
      "FTP://Files.org:21/a" -> "ftp://files.org:21/a")
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.urlCanonicalize(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2))
    val nonUrl = Seq("not a url", "relative/path", "").toDF("url")
      .select(TextOps.urlCanonicalize(col("url")).as("c"))
      .collect().map(r => Option(r.getString(0)))
    assert(nonUrl.forall(_.isEmpty), "non-URLs must canonicalize to NULL")
  }

  test("urlResolve: RFC 3986 reference resolution over columns") {
    val base = "https://h.org/a/b/c?q=1"
    val cases = Seq(
      // absolute ref wins outright; protocol-relative takes base scheme
      "http://other.org/x" -> Some("http://other.org/x"),
      "//cdn.org/lib.js" -> Some("https://cdn.org/lib.js"),
      // absolute path replaces; root-excess ../ clamps (browser behavior)
      "/root/doc" -> Some("https://h.org/root/doc"),
      "/../up" -> Some("https://h.org/up"),
      // sibling merges against the base DIRECTORY; dots fold
      "sib" -> Some("https://h.org/a/b/sib"),
      "./here" -> Some("https://h.org/a/b/here"),
      "../up2" -> Some("https://h.org/a/up2"),
      "../../top" -> Some("https://h.org/top"),
      // query-only keeps the base path; empty ref is the base
      "?z=9" -> Some("https://h.org/a/b/c?z=9"),
      "" -> Some(base),
      // fragment-only keeps the FULL base resource (path and query)
      "#sec" -> Some(base + "#sec"),
      // path-valued query params ride through the dot-fold untouched
      "next?return=/a/../b" -> Some("https://h.org/a/b/next?return=/a/../b"),
      "../up?p=/./x" -> Some("https://h.org/a/up?p=/./x"))
    val got = cases.map(_._1).toDF("r")
      .select(TextOps.urlResolve(lit(base), col("r")).as("u"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(got == cases.map(_._2), s"got=$got")
    // a NULL ref (missing Location) stays NULL — not the base
    val n = Seq(Tuple1(Option.empty[String])).toDF("r")
      .select(TextOps.urlResolve(lit(base), col("r")).as("u")).head
    assert(n.isNullAt(0))
    // a relative ref against an unparseable base has nothing to resolve
    val bad = Seq("x/y").toDF("r")
      .select(TextOps.urlResolve(lit("no scheme here"), col("r")).as("u")).head
    assert(bad.isNullAt(0))
  }

  test("urlPctNormalize: RFC 3986 6.2.2 escape normalization matrix") {
    val cases = Seq(
      // unreserved escapes decode, hex case-insensitively
      "/p%41th/%7e%2D%5F%2e" -> "/pAth/~-_.",
      // reserved escapes keep their meaning, hex UPPERCASES
      "?q=%2fa%3db%26c" -> "?q=%2Fa%3Db%26c",
      // a non-ASCII octet is never unreserved: uppercased, not decoded
      "/caf%c3%a9" -> "/caf%C3%A9",
      // malformed % copies literally (tolerant read)
      "/m%zq/100%" -> "/m%zq/100%",
      // no escapes: identity
      "/plain/path?a=1" -> "/plain/path?a=1")
    val got = cases.map(_._1).toDF("u")
      .select(TextOps.urlPctNormalize(col("u")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), s"got=$got")
    // composed with canonicalize: two spellings share one frontier key
    val pair = Seq("https://a.org/p%41th?x=%2fv", "https://a.org/pAth?x=%2Fv").toDF("u")
      .select(TextOps.urlCanonicalize(TextOps.urlPctNormalize(col("u"))).as("c"))
      .collect().map(_.getString(0)).toSet
    assert(pair == Set("https://a.org/pAth?x=%2Fv"))
  }

  test("sitemapText: gzip-by-content decode in front of the leaf extractor") {
    val xml = "<?xml version=\"1.0\"?><urlset><url><loc>https://a.org/p1</loc></url>" +
      "<url><loc>https://a.org/p2</loc></url></urlset>"
    val plain = xml.getBytes("UTF-8")
    val gz = graft.codec.GzipCodec.gzipMember(plain)
    // two-member concatenation is legal RFC 1952 and must concatenate
    val half = xml.length / 2
    val twoMember = graft.codec.GzipCodec.gzipMember(xml.substring(0, half).getBytes("UTF-8")) ++
      graft.codec.GzipCodec.gzipMember(xml.substring(half).getBytes("UTF-8"))
    val truncated = gz.take(gz.length - 3)
    val rows = Seq(1 -> plain, 2 -> gz, 3 -> twoMember, 4 -> truncated)
      .toDF("id", "b")
      .select(col("id"), TextOps.xmlTagValues(
        TextOps.sitemapText(col("b")), "loc").as("locs"))
      .collect().map(r => r.getInt(0) -> Option(r.getSeq[String](1))).toMap
    val want = Seq("https://a.org/p1", "https://a.org/p2")
    assert(rows(1).get == want, "plain bytes read straight through")
    assert(rows(2).get == want, "gzip bytes decode by magic, not URL suffix")
    assert(rows(3).get == want, "concatenated members decode as one stream")
    assert(rows(4).isEmpty, "truncated gzip nulls out for quarantine, never throws")
  }

  test("urlSurt: host reversal, ports, path/query/fragment handling") {
    val cases = Seq(
      "https://d7.example.com/p123?b=1" -> "com,example,d7)/p123?b=1",
      // non-default port kept as host:port); default ports stripped
      "http://A.B.org:8080/x" -> "org,b,a:8080)/x",
      "http://x.example.net:80/y" -> "net,example,x)/y",
      "HTTPS://WWW.Example.COM:443" -> "com,example,www)/",
      // fragment dropped; single-label host has nothing to reverse
      "http://localhost/a#frag" -> "localhost)/a",
      // :443 is NOT default for http — kept
      "http://x.org:443/p" -> "org,x:443)/p")
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.urlSurt(col("url")).as("s"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2))
    val nonUrl = Seq("not a url", "").toDF("url")
      .select(TextOps.urlSurt(col("url")).as("s"))
      .collect().map(r => Option(r.getString(0)))
    assert(nonUrl.forall(_.isEmpty), "non-URLs must key to NULL")
    // SURT groups a domain's URLs contiguously where plain URL order scatters them
    val urls = Seq("https://b.example.com/1", "https://a.example.com/1",
      "https://b.example.com/2").toDF("url")
    val sorted = urls.select(TextOps.urlSurt(col("url")).as("s"))
      .orderBy("s").collect().map(_.getString(0)).toSeq
    assert(sorted == Seq("com,example,a)/1", "com,example,b)/1", "com,example,b)/2"))
  }

  test("prefixFilterPairs ≡ brute force at the exact threshold") {
    // 60 deterministic sets over a 26-token vocab, sizes 3..12 — small
    // enough to brute-force, varied enough to exercise the length
    // filter, the rare-first prefix, and pairs straddling θ
    val sets: Seq[(Long, Seq[String])] = (0 until 60).map { i =>
      val n = 3 + i % 10
      (i.toLong, (0 until n).map(j => s"w${(i * (j + 1) + i / 7) % 26}").distinct)
    }
    def jacPermille(a: Seq[String], b: Seq[String]): Long = {
      val (sa, sb) = (a.toSet, b.toSet)
      val i = sa.intersect(sb).size.toLong
      val u = sa.union(sb).size.toLong
      if (u == 0) 0L else i * 1000 / u
    }
    for (theta <- Seq(500, 700, 900, 1000)) {
      val expected = (for {
        (ia, ta) <- sets; (ib, tb) <- sets if ia < ib
        j = jacPermille(ta, tb) if j >= theta
      } yield (ia, ib) -> j).toMap
      val got = Dedup.prefixFilterPairs(
        sets.toDF("id", "toks"), "id", "toks", theta)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == expected, s"theta=$theta")
    }
    // empty sets pair with nothing
    val withEmpty = sets :+ (999L, Seq.empty[String])
    val g = Dedup.prefixFilterPairs(withEmpty.toDF("id", "toks"), "id", "toks", 500)
      .filter(col("id_a") === 999L || col("id_b") === 999L).count()
    assert(g == 0L)
  }

  test("prefixFilterPairs: output invariant across hotDf (salted hot path ≡ plain)") {
    // hotDf=2 forces EVERY prefix token through the salted hot join,
    // hotDf=5 splits the corpus across both paths, default leaves all
    // cold — the three plans must emit identical pairs
    val sets: Seq[(Long, Seq[String])] = (0 until 60).map { i =>
      val n = 3 + i % 10
      (i.toLong, (0 until n).map(j => s"w${(i * (j + 1) + i / 7) % 26}").distinct)
    }
    def run(hotDf: Long) = Dedup.prefixFilterPairs(
      sets.toDF("id", "toks"), "id", "toks", 700, hotDf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val base = run(65536L)
    assert(base.nonEmpty, "fixture must produce pairs")
    assert(run(2L) == base, "all-hot plan diverged")
    assert(run(5L) == base, "mixed plan diverged")
  }

  test("prefixFilterPairs plan posture: gated broadcast, salt key on the hot path") {
    val sets: Seq[(Long, Seq[String])] = (0 until 40).map { i =>
      (i.toLong, (0 until (3 + i % 8)).map(j => s"w${(i * (j + 1)) % 20}").distinct)
    }
    val df = Dedup.prefixFilterPairs(sets.toDF("id", "toks"), "id", "toks", 700, hotDf = 2)
    df.collect() // finalize AQE so the executed plan is the real one
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      "under the 2M gate the candidate/verify joins must broadcast")
    assert(plan.contains("_s#"),
      "with every token hot, the candidate join must key on the salt")
  }

  test("incrementalPrefixPairs: corpus one-shot ∪ batch probe ≡ one-shot on the union") {
    // same generator family as the one-shot spec, split 45 corpus / 15
    // batch (disjoint ids); batch sets include tokens the corpus never
    // saw (w90+) so the frozen-ordering fallback path (df=0 sorts
    // first) is exercised, plus an exact duplicate of a corpus set
    val corpus: Seq[(Long, Seq[String])] = (0 until 45).map { i =>
      val n = 3 + i % 10
      (i.toLong, (0 until n).map(j => s"w${(i * (j + 1) + i / 7) % 26}").distinct)
    }
    val batch: Seq[(Long, Seq[String])] = ((45 until 59).map { i =>
      val n = 3 + i % 10
      (100L + i, (0 until n).map(j =>
        s"w${(i * (j + 1) + i / 7) % (if (i % 3 == 0) 96 else 26)}").distinct)
    }) :+ (200L, corpus(7)._2)
    for (theta <- Seq(600, 900)) {
      val dir = tmpDir(s"graft-ppidx-$theta")
      Dedup.prefixIndexBuild(corpus.toDF("id", "toks"), "id", "toks", theta, dir)
      val inc = Dedup.incrementalPrefixPairs(batch.toDF("id", "toks"), "id", "toks", dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val corpusOnly = Dedup.prefixFilterPairs(
        corpus.toDF("id", "toks"), "id", "toks", theta)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val oneShot = Dedup.prefixFilterPairs(
        (corpus ++ batch).toDF("id", "toks"), "id", "toks", theta)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(corpusOnly.keySet.intersect(inc.keySet).isEmpty,
        "incremental must emit only pairs involving the batch")
      assert(corpusOnly ++ inc == oneShot, s"theta=$theta")
      // the planted duplicate is found across the index boundary
      if (theta <= 1000) assert(inc.get((7L, 200L)).contains(1000L))
    }
  }

  test("prefixIndexAppend: successive batches accumulate; replay idempotent") {
    def gen(ids: Range, off: Long, vocab: Int) = ids.map { i =>
      val n = 3 + i % 10
      (off + i, (0 until n).map(j => s"w${(i * (j + 1) + i / 7) % vocab}").distinct)
    }
    val corpus = gen(0 until 40, 0L, 26)
    val b1 = gen(40 until 50, 100L, 30) // some unseen tokens
    val b2 = gen(50 until 60, 200L, 26)
    val dir = tmpDir("graft-ppidx-app")
    val theta = 600
    Dedup.prefixIndexBuild(corpus.toDF("id", "toks"), "id", "toks", theta, dir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val p1 = pairs(Dedup.incrementalPrefixPairs(b1.toDF("id", "toks"), "id", "toks", dir))
    Dedup.prefixIndexAppend(b1.toDF("id", "toks"), "id", "toks", dir, batchId = 0L)
    // replayed append must not duplicate the batch's rows (own-partition
    // overwrite): a doubled sets row would double b2's verify pairs
    Dedup.prefixIndexAppend(b1.toDF("id", "toks"), "id", "toks", dir, batchId = 0L)
    val p2 = pairs(Dedup.incrementalPrefixPairs(b2.toDF("id", "toks"), "id", "toks", dir))
    val base = pairs(Dedup.prefixFilterPairs(corpus.toDF("id", "toks"), "id", "toks", theta))
    val oneShot = pairs(Dedup.prefixFilterPairs(
      (corpus ++ b1 ++ b2).toDF("id", "toks"), "id", "toks", theta))
    assert(base ++ p1 ++ p2 == oneShot,
      "build + probe/append/probe must tile the one-shot pair set")
    // compaction folds the build partition + batch 0 into a base
    // generation behind the pointer; probing and appending afterwards
    // must behave identically
    Dedup.prefixIndexAppend(b2.toDF("id", "toks"), "id", "toks", dir, batchId = 1L)
    Dedup.prefixIndexCompact(spark, dir, belowBatch = 2L)
    val liveParts = new java.io.File(s"$dir/sets").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(liveParts.isEmpty, s"absorbed index partitions must be swept: $liveParts")
    val b3 = gen(60 until 66, 300L, 26)
    val p3 = pairs(Dedup.incrementalPrefixPairs(b3.toDF("id", "toks"), "id", "toks", dir))
    val all3 = pairs(Dedup.prefixFilterPairs(
      (corpus ++ b1 ++ b2 ++ b3).toDF("id", "toks"), "id", "toks", theta))
    assert(oneShot ++ p3 == all3,
      "a probe against the compacted index must still tile the one-shot set")
    Dedup.prefixIndexAppend(b3.toDF("id", "toks"), "id", "toks", dir, batchId = 2L)
    val stored = graft.streaming.BatchLedger.read(spark, dir, "sets",
      "ppidx.sets.base", None, empty = spark.emptyDataFrame)
    assert(stored.count() == (corpus.size + b1.size + b2.size + b3.size),
      "post-compaction appends land beside the base")
  }

  test("prefixIndexDrift: fresh index reads 1000; vocabulary shift raises it; rebuild resets") {
    // corpus vocabulary: r0-r9 moderately common (df 3), u5 rare
    // (df 1), p/q/s unique fillers. The corpus prefixes are the
    // unique fillers — zero candidate mass either way.
    val corpus: Seq[(Long, Seq[String])] = (0 until 30).map { i =>
      (i.toLong, Seq(s"p$i", s"q$i", s"r${i % 10}") ++
        (if (i == 29) Seq("u5") else Seq(s"s$i")))
    }
    val dir = tmpDir("graft-ppidx-drift")
    Dedup.prefixIndexBuild(corpus.toDF("id", "toks"), "id", "toks", 600, dir)
    def drift() = Dedup.prefixIndexDrift(spark, dir).head()
    val d0 = drift()
    assert(d0.getAs[Long]("drift_permille") == 1000L,
      s"fresh index must read 1000, got $d0")
    // batches make the once-rare u5 ubiquitous alongside the r tokens
    // the corpus made moderately common: the FROZEN order still ranks
    // u5 (df 1) rarest and puts it in all 40 prefixes — C(40,2)
    // candidate mass — while a FRESH ordering ranks u5 (df 41) last
    // and spreads the prefixes across the ten r tokens instead
    val batch: Seq[(Long, Seq[String])] = (0 until 40).map { i =>
      (100L + i, Seq("u5", s"r${i % 10}", s"r${(i + 3) % 10}"))
    }
    Dedup.prefixIndexAppend(batch.toDF("id", "toks"), "id", "toks", dir, batchId = 0L)
    val d1 = drift()
    assert(d1.getAs[Long]("drift_permille") > 1000L,
      s"shifted vocabulary must raise drift, got $d1")
    assert(d1.getAs[Long]("stored_candidate_mass") >
      d1.getAs[Long]("fresh_candidate_mass"))
    // rebuild refreshes the ordering: drift returns to parity
    Dedup.prefixIndexBuild((corpus ++ batch).toDF("id", "toks"), "id", "toks", 600, dir)
    assert(drift().getAs[Long]("drift_permille") == 1000L, "rebuild resets drift")
  }

  test("prefixIndexBuild: rebuild after append and after compact serves only the rebuilt corpus") {
    def gen(ids: Range, off: Long, vocab: Int) = ids.map { i =>
      val n = 3 + i % 10
      (off + i, (0 until n).map(j => s"w${(i * (j + 1) + i / 7) % vocab}").distinct)
    }
    val corpus = gen(0 until 30, 0L, 26)
    val b1 = gen(30 until 40, 100L, 30)
    val b2 = gen(40 until 50, 200L, 26)
    val dir = tmpDir("graft-ppidx-rebuild")
    val theta = 600
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def storedSids = graft.streaming.BatchLedger.read(spark, dir, "sets",
      "ppidx.sets.base", None, empty = spark.emptyDataFrame)
      .select("sid").collect().map(_.getLong(0)).toSeq
    // rebuild-after-append: the pre-rebuild batch partitions must not
    // survive as duplicates under the session-global dynamic overwrite
    Dedup.prefixIndexBuild(corpus.toDF("id", "toks"), "id", "toks", theta, dir)
    Dedup.prefixIndexAppend(b1.toDF("id", "toks"), "id", "toks", dir, batchId = 0L)
    val rebuilt1 = corpus ++ b1
    Dedup.prefixIndexBuild(rebuilt1.toDF("id", "toks"), "id", "toks", theta, dir)
    assert(storedSids.sorted == rebuilt1.map(_._1).sorted,
      "after rebuild the stored sets are exactly the rebuilt corpus, no stale batch rows")
    val p2 = pairs(Dedup.incrementalPrefixPairs(b2.toDF("id", "toks"), "id", "toks", dir))
    val oneShot1 = pairs(Dedup.prefixFilterPairs(rebuilt1.toDF("id", "toks"), "id", "toks", theta))
    val oneShotAll = pairs(Dedup.prefixFilterPairs(
      (rebuilt1 ++ b2).toDF("id", "toks"), "id", "toks", theta))
    assert(oneShot1 ++ p2 == oneShotAll, "probe against the rebuilt index tiles the one-shot set")
    // rebuild-after-compact: the committed pointer must not keep
    // resolving the old base (which would exclude the rebuilt batch=-1
    // rows behind a horizon > -1)
    Dedup.prefixIndexAppend(b2.toDF("id", "toks"), "id", "toks", dir, batchId = 1L)
    Dedup.prefixIndexCompact(spark, dir, belowBatch = 2L)
    assert(graft.streaming.BatchLedger.pointer(dir, "ppidx.sets.base").isDefined)
    val rebuilt2 = corpus ++ b2 // b1 dropped: rebuild also FORGETS
    Dedup.prefixIndexBuild(rebuilt2.toDF("id", "toks"), "id", "toks", theta, dir)
    assert(graft.streaming.BatchLedger.pointer(dir, "ppidx.sets.base").isEmpty,
      "rebuild must clear the compaction pointer")
    assert(storedSids.sorted == rebuilt2.map(_._1).sorted,
      "after rebuild-over-compaction the stored sets are exactly the rebuilt corpus")
    val p1 = pairs(Dedup.incrementalPrefixPairs(b1.toDF("id", "toks"), "id", "toks", dir))
    val oneShot2 = pairs(Dedup.prefixFilterPairs(rebuilt2.toDF("id", "toks"), "id", "toks", theta))
    val oneShotAll2 = pairs(Dedup.prefixFilterPairs(
      (rebuilt2 ++ b1).toDF("id", "toks"), "id", "toks", theta))
    assert(oneShot2 ++ p1 == oneShotAll2,
      "probe against the post-compaction rebuild tiles the one-shot set")
  }

  test("htmlAnchors: target/text pairs align; non-anchors and nested markup excluded") {
    val html = """<p><a href="https://a.org/1">first</a> filler
      |<img src="https://img.org/x.png">
      |<A CLASS="z" HREF="https://b.org/2">second link</A>
      |<a href="https://c.org/3"><b>nested</b></a>
      |<a href="https://d.org/4"></a></p>""".stripMargin
    val got = Seq(html).toDF("h")
      .select(explode(TextOps.htmlAnchors(col("h"))).as("a"))
      .select("a.target", "a.text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // img src is not an anchor; the nested-<b> anchor yields empty text
    // (leaf-only contract), the empty anchor yields empty text
    assert(got == Seq("https://a.org/1" -> "first",
      "https://b.org/2" -> "second link",
      "https://d.org/4" -> ""))
  }

  test("redirects: chains, pass-through, cycles, over-bound truncation") {
    val edges = Seq("a" -> "b", "b" -> "c", // 2-hop chain
      "x" -> "y", "y" -> "x", // 2-cycle
      "l1" -> "l2", "l2" -> "l3", "l3" -> "l4", "l4" -> "l5", "l5" -> "l6")
      .toDF("src", "dst")
    val urls = Seq("a", "b", "c", "x", "plain", "l1").toDF("url")
    val got = Redirects.resolve(urls, "url", edges, "src", "dst", 4)
      .select("url", "final_url", "n_hops", "status")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getString(3)))).toMap
    assert(got("a") == (("c", 2L, "resolved")))
    assert(got("b") == (("c", 1L, "resolved")))
    assert(got("c") == (("c", 0L, "resolved")))
    assert(got("plain") == (("plain", 0L, "resolved")))
    // 2-cycle: four hops land back on x, target still redirects
    assert(got("x") == (("x", 4L, "redirect_loop")))
    // 5-hop chain truncates at 4 with the loop/over-bound status
    assert(got("l1") == (("l5", 4L, "redirect_loop")))
  }

  test("packWarcShardsMixed + warcIndex: types survive; offsets address records") {
    val rows = Seq(
      (0, 1L, "https://a.org/1", "full".getBytes("UTF-8"), "response", "text/html"),
      (0, 2L, "https://a.org/2", Array.emptyByteArray, "revisit", "message/http"),
      (1, 3L, "https://b.org/3", "x".getBytes("UTF-8"), "response", "text/html"))
      .toDF("shard", "id", "uri", "blob", "wtype", "ctype")
    val warcs = Sharding.packWarcShardsMixed(rows, "shard", "id", "uri", "blob",
      "wtype", "ctype")
    val idx = Sharding.warcIndex(warcs, "shard", "warc")
      .orderBy("member_id")
      .collect().map(r => (r.getLong(1), r.getString(3), r.getLong(4), r.getLong(5)))
    assert(idx.map(t => t._1 -> t._2).toSeq ==
      Seq(1L -> "response", 2L -> "revisit", 3L -> "response"))
    // the revisit record carries no payload: its digest is md5 of empty
    val d2 = Sharding.warcIndex(warcs, "shard", "warc")
      .where(col("member_id") === 2L).select("digest").head.getString(0)
    assert(d2 == "d41d8cd98f00b204e9800998ecf8427e")
    // ranged read via (offset, rec_len) recovers exactly one record
    val shard0 = warcs.where(col("shard") === 0).select("warc").head.getAs[Array[Byte]](0)
    val (o, l) = (idx(1)._3, idx(1)._4)
    val one = graft.codec.WarcCodec.parse(
      java.util.Arrays.copyOfRange(shard0, o.toInt, (o + l).toInt))
      .getOrElse(fail("slice"))
    assert(one.size == 1 && one.head.warcType == "revisit" && one.head.payload.isEmpty)
  }

  test("shingles: windows, guard below n, char shingles") {
    val df = docs((0L, "a b c d"), (1L, "a b"), (2L, ""))
      .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(m(0L) == Seq("a b c", "b c d"))
    assert(m(1L) == Seq.empty) // guard: no negative-span sequence
    assert(m(2L) == Seq.empty)
  }

  test("exact dedup groups identical content") {
    val out = Dedup.exact(docs((1L, "same"), (2L, "same"), (3L, "other")), "doc_id", "text")
      .orderBy("keeper_id").collect()
    assert(out.length == 2)
    assert(out.head.getAs[Long]("keeper_id") == 1 && out.head.getAs[Long]("group_size") == 2)
  }

  test("minhash LSH: identical docs collide on every band, disjoint docs on none") {
    val df = docs(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup
      (3L, "completely different words entirely unrelated content here today now"))
    val pairs = Dedup.lshCandidatePairs(df, "doc_id", "text").collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("doc_a") == 1 && p.getAs[Long]("doc_b") == 2)
    assert(p.getAs[Long]("n_shared_bands") == 4) // all bands
    assert(p.getAs[Double]("jaccard") == 1.0)
  }

  test("lshPlan: S-curve math matches pow(), thresholds descend, candidates grow with bands") {
    // the sqrt/multiply-chain shapes must agree with the textbook formulae
    for (b <- Seq(1, 2, 4, 8); j <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val r = 8 / b
      assert(math.abs(Dedup.sCurveThreshold(b, r) - math.pow(1.0 / b, 1.0 / r)) < 1e-12)
      assert(math.abs(Dedup.sCurveProb(j, b, r) -
        (1.0 - math.pow(1.0 - math.pow(j, r), b))) < 1e-12)
    }
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val df = docs(
      (1L, base), (2L, base.replace("w30", "changed")),
      (3L, base), (4L, "totally different content with other words in it here"))
    val plan = Dedup.lshPlan(df, "doc_id", "text", shingleN = 3, k = 8)
      .orderBy("bands").collect()
    assert(plan.length == 4)
    val th = plan.map(_.getAs[Double]("threshold")).toSeq
    assert(th == th.sortBy(-(_: Double)), "threshold descends as bands grow")
    val ns = plan.map(_.getAs[Long]("n_candidates")).toSeq
    assert(ns == ns.sorted,
      "aligned power-of-two splits: a coarser-band match implies its sub-band matches, " +
        s"so candidates are monotone in bands — got $ns")
    assert(ns.head >= 1, "the exact-dup pair must collide even at one band of 8 rows")
  }

  test("cdcChunks: reassembly identity, geometry well-formed, short docs one chunk") {
    val rnd = new scala.util.Random(31)
    val words = (1 to 80).map(_ => s"t${rnd.nextInt(50)}")
    val df = docs((1L, words.mkString(" ")), (2L, "a b"), (3L, "solo"))
    val ch = TextOps.cdcChunks(df, "doc_id", "text", w = 3, divisor = 4)
      .orderBy("doc", "chunk_idx").collect()
    // short docs (< w tokens) are exactly one whole-doc chunk
    assert(ch.count(_.getAs[Long]("doc") == 2L) == 1)
    assert(ch.count(_.getAs[Long]("doc") == 3L) == 1)
    // geometry: chunks tile 1..n contiguously
    val d1 = ch.filter(_.getAs[Long]("doc") == 1L)
    assert(d1.head.getAs[Long]("start_tok") == 1L)
    d1.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("start_tok") ==
          a.getAs[Long]("start_tok") + a.getAs[Long]("n_toks"))
      case _ =>
    }
    assert(d1.map(_.getAs[Long]("n_toks")).sum == 80L)
    assert(d1.length > 1, "an 80-token doc must produce multiple CDC chunks")
  }

  test("cdcChunks minLen: every non-tail chunk >= minLen; minLen=1 is the identity") {
    val rnd = new scala.util.Random(13)
    val words = (1 to 150).map(_ => s"q${rnd.nextInt(20)}")
    val df = docs((1L, words.mkString(" ")))
    val bounded = TextOps.cdcChunks(df, "doc_id", "text", 3, 4, minLen = 4)
      .orderBy("chunk_idx").collect()
    bounded.dropRight(1).foreach { r =>
      assert(r.getAs[Long]("n_toks") >= 4L,
        s"non-tail chunk shorter than minLen: ${r.getAs[Long]("n_toks")}")
    }
    assert(bounded.map(_.getAs[Long]("n_toks")).sum == 150L, "tiling still exact")
    val a = TextOps.cdcChunks(df, "doc_id", "text", 3, 4).collect().map(_.toSeq).toSeq
    val b = TextOps.cdcChunks(df, "doc_id", "text", 3, 4, minLen = 1)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "minLen = 1 must be bit-identical to the unconstrained form")
  }

  test("cdcChunks: shift-resilient — a prepended token realigns; fixed windows do not") {
    val rnd = new scala.util.Random(77)
    val words = (1 to 120).map(_ => s"w${rnd.nextInt(40)}")
    val orig = words.mkString(" ")
    val shifted = "zzz " + orig // one-token insertion at the head
    val df = docs((1L, orig), (2L, shifted))
    def hashes(doc: Long) = TextOps.cdcChunks(df, "doc_id", "text", 3, 4)
      .filter(col("doc") === doc).select("chunk_hash")
      .collect().map(_.getString(0)).toSet
    val shared = hashes(1L).intersect(hashes(2L)).size
    assert(shared.toDouble / hashes(1L).size > 0.5,
      s"CDC must re-synchronize after the edit (shared $shared of ${hashes(1L).size})")
    // fixed-window chunking under the same shift shares (almost) nothing
    def fixedHashes(doc: Long) = TextOps.chunkTokens(df, "doc_id", "text", 8, 0)
      .filter(col("doc") === doc)
      .select(md5(col("chunk_text")).as("h")).collect().map(_.getString(0)).toSet
    val fixedShared = fixedHashes(1L).intersect(fixedHashes(2L)).size
    assert(fixedShared < shared,
      s"fixed windows must lose alignment where CDC keeps it ($fixedShared vs $shared)")
  }

  test("minhash LSH recalls a near-duplicate (one word changed)") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = base.replace("w30", "changed")
    val pairs = Dedup.lshCandidatePairs(docs((1L, base), (2L, near)), "doc_id", "text").collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Double]("jaccard") > 0.8)
  }

  test("simhash: near-dup docs are close in hamming, unrelated docs are far") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok40", "x")
    val far = (1 to 40).map(i => s"other$i").mkString(" ")
    val sh = Dedup.simhash16(docs((1L, base), (2L, near), (3L, far)), "doc_id", "text")
    val m = sh.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.values.forall(v => v.length == 16 && v.forall(c => c == '0' || c == '1')))
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)))
    assert(ham(m(1L), m(2L)) <= 3)
  }

  test("simhash expression is bit-identical to the relational form incl. null/empty docs") {
    val data = docs((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b a b a"), (3L, ""), (4L, null), (5L, "   "), (6L, "Ünïcødé tökens αβγ"))
    val expr = Dedup.simhash16(data, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rel = Dedup.simhash16Relational(data, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(expr == rel)
    assert(expr(3L) == "0" * 16 && expr(4L) == "0" * 16)
  }

  test("simhash near-dup pairs: banded candidates equal brute-force Hamming ball") {
    // overlapping sliding token windows → a spread of small distances
    val rows = (1L to 24L).map { i =>
      (i, (0 until 30).map(j => s"t${(i + j) % 40}").mkString(" "))
    }
    val df = docs(rows: _*)
    val sig = Dedup.simhash16(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    for (k <- 0 to 3) {
      val got = Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        a <- 1L to 24L; b <- (a + 1) to 24L
        h = ham(sig(a), sig(b)) if h <= k
      } yield (a, b, h.toLong)).toSet
      assert(got == want, s"k=$k")
      if (k == 3) assert(want.nonEmpty) // the fixture must exercise the ball
    }
  }

  test("simhash64 expression is bit-identical to the relational form incl. null/empty docs") {
    val data = docs((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b a b a"), (3L, ""), (4L, null), (5L, "   "), (6L, "Ünïcødé tökens αβγ"),
      (7L, (1 to 200).map(i => s"word$i").mkString(" ")))
    val expr = Dedup.simhash64(data, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rel = Dedup.simhash64Relational(data, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expr == rel)
    assert(expr(3L) == 0L && expr(4L) == 0L && expr(5L) == 0L)
    // the wide fixture must actually exercise the sign bit at least once
    // across the fixtures, else the signed assembly is untested
    assert(data.collect().nonEmpty && expr.values.exists(_ < 0L))
    // low 16 bits of the 64-bit fingerprint are NOT the 16-bit form
    // (different hex chars carry them) — but both derive from one md5,
    // so bits 0..15 of simhash64 equal simhash16's bits exactly
    val s16 = Dedup.simhash16(data, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, sig) <- expr) {
      val low16 = (0 until 16).map(b => if (((sig >> b) & 1L) == 1L) '1' else '0').mkString
      assert(low16 == s16(id), s"doc $id: low 16 bits must equal the 16-bit fingerprint")
    }
  }

  test("simhash64 near-dup pairs: banded candidates equal brute-force Hamming ball") {
    val rows = (1L to 24L).map { i =>
      (i, (0 until 30).map(j => s"t${(i + j) % 40}").mkString(" "))
    }
    val df = docs(rows: _*)
    val sig = Dedup.simhash64(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (k <- Seq(0, 1, 2, 3, 7)) { // k=7 is the 8-blocks-of-8-bits scheme
      val got = Dedup.simhash64NearDupPairs(df, "doc_id", "text", maxHamming = k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        a <- 1L to 24L; b <- (a + 1) to 24L
        h = ham(sig(a), sig(b)) if h <= k
      } yield (a, b, h.toLong)).toSet
      assert(got == want, s"k=$k")
    }
    // 64-bit space separates what 16 bits conflates: across the sliding
    // windows, distances concentrate well above the k=7 ball except for
    // genuinely overlapping windows
    val all = for { a <- 1L to 24L; b <- (a + 1) to 24L } yield ham(sig(a), sig(b))
    assert(all.max > 7, "fixture must contain far pairs in 64-bit space")
  }

  test("surprisal gate: exact integer-bit surprisal, self-LM, external LM, empty docs kept") {
    // self-LM: counts a=6, b=1, total=7 → bits(a)=len(bin(7 div 6))-1=0,
    // bits(b)=len(bin(7))-1=2
    val df = docs((1L, "a a a a a"), (2L, "a b"), (3L, ""), (4L, null))
    val self = TextOps.surprisalScore(df, "doc_id", "text", minBits = 0.5, maxBits = 1.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4))).toMap
    assert(self(1L) == ((5L, 0L, Some(0.0), false)))
    assert(self(2L) == ((2L, 2L, Some(1.0), true)))
    assert(self(3L) == ((0L, 0L, None, false))) // empty doc: kept in output, keep=false
    assert(self(4L) == ((0L, 0L, None, false)))

    // external LM {a: 3}, total 3 → bits(a)=0; OOV b scores as count-1:
    // len(bin(3))-1 = 1
    import df.sparkSession.implicits._
    val lm = Seq(("a", 3L)).toDF("w", "cnt")
    val ext = TextOps.surprisalScore(df, "doc_id", "text", minBits = 0.0, maxBits = 9.0,
      lm = Some(lm))
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(ext(2L) == Some(0.5))
    assert(ext(1L) == Some(0.0))
  }

  test("resamplePlan: exact truncating rate math, non-audio rows all-null") {
    import spark.implicits._
    val meta = Seq(
      (1L, Some(8000), Some(1), Some(12345)),  // upsample 2x
      (2L, Some(40000), Some(2), Some(100)),   // downsample 2.5x: 100*16000/40000 = 40
      (3L, None, Some(3), Some(7)))            // image row: channels must NOT leak
      .toDF("media_id", "sample_rate", "channels", "n_frames")
    val got = Multimodal.resamplePlan(meta, targetRate = 16000)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(5)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Int]),
          Option(r.get(6)).map(_.asInstanceOf[Long])))).toMap
    assert(got(1L) === ((Some(24690L), Some(1), Some(49380L))))
    assert(got(2L) === ((Some(40L), Some(2), Some(160L))))
    assert(got(3L) === ((None, None, None)))
  }

  test("resamplePcm: byte-decoded resample equals an independent in-memory reference") {
    import spark.implicits._
    // fixtures spanning up/downsample, mono/stereo, plus a non-audio blob
    val specs = Seq(
      (1L, 1, 8000, 13),   // upsample 2x
      (2L, 2, 40000, 50),  // downsample 2.5x, stereo
      (3L, 2, 16000, 7),   // identity rate
      (4L, 1, 24000, 1))   // single frame
    def fill(id: Long)(i: Int, c: Int): Int = graft.codec.MediaFixtures.pcmSample(id, i, c)
    val rows = specs.map { case (id, ch, rate, fr) =>
      (id, graft.codec.MediaFixtures.wav(ch, rate, fr, fill(id))) } :+
      ((9L, graft.codec.MediaFixtures.png(4, 4))) // image row: no output
    val got = Multimodal.resamplePcm(rows.toDF("media_id", "blob"), "media_id", "blob",
        targetRate = 16000)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6), r.getInt(7), r.getInt(8),
          r.getInt(9), r.getInt(10)))).toMap
    // independent reference: same math straight from the fill function,
    // no bytes involved — pins the byte decode AND the interpolation
    val want = (for {
      (id, ch, rate, fr) <- specs
      c <- 0 until ch
      nOut = fr.toLong * 16000 / rate if nOut > 0
    } yield {
      val vs = (0L until nOut).map { j =>
        val k = (j * rate / 16000).toInt
        val frac = (j * rate % 16000).toInt
        val k1 = math.min(k + 1, fr - 1)
        val s0 = fill(id)(k, c)
        val s1 = fill(id)(k1, c)
        s0 + (((s1 - s0).toLong * frac) / 16000).toInt
      }
      (id, c) -> ((fr.toLong, nOut, vs.map(_.toLong).sum, vs.min, vs.max, vs.head, vs.last))
    }).toMap
    assert(got == want)
    assert(!got.keySet.exists(_._1 == 9L)) // the image produced no row
    assert(got.keySet.count(_._1 == 2L) == 2) // stereo: one row per channel
  }

  test("resizePixels: real decoded thumbnail equals an independent in-memory reference") {
    import spark.implicits._
    def pix(id: Long)(x: Int, y: Int, c: Int): Int = graft.codec.MediaFixtures.pixel(id, x, y, c)
    val rows = Seq(
      (1L, graft.codec.MediaFixtures.pngReal(20, 9, pix(1L), y => y % 5)),  // width-bound
      (2L, graft.codec.MediaFixtures.pngReal(5, 16, pix(2L), y => (y + 1) % 5)), // height-bound
      (3L, graft.codec.MediaFixtures.pngReal(4, 3, pix(3L))),               // no resize
      (9L, graft.codec.MediaFixtures.gif(3, 3, 1)))                          // undecodable as PNG
    val got = Multimodal.resizePixels(rows.toDF("media_id", "blob"), "media_id", "blob",
        maxW = 8, maxH = 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(3), r.getInt(4), r.getLong(6), r.getAs[Array[Byte]]("thumb").toSeq))).toMap
    assert(!got.contains(9L), "a GIF produces no PNG-resize row")
    def ref(id: Long, w: Int, h: Int): ((Int, Int), Array[Byte]) = {
      val (ow, oh) =
        if (w <= 8 && h <= 6) (w, h)
        else if (w.toLong * 6 >= h.toLong * 8) (8, math.max(1, h * 8 / w))
        else (math.max(1, w * 6 / h), 6)
      val t = for (oy <- 0 until oh; ox <- 0 until ow; c <- 0 until 3)
        yield pix(id)(ox * w / ow, oy * h / oh, c).toByte
      ((ow, oh), t.toArray)
    }
    for ((id, w, h) <- Seq((1L, 20, 9), (2L, 5, 16), (3L, 4, 3))) {
      val ((ow, oh), t) = ref(id, w, h)
      val (gw, gh, gsum, gthumb) = got(id)
      assert((gw, gh) == ((ow, oh)), s"dims for $id")
      assert(gthumb == t.toSeq, s"thumbnail bytes for $id")
      assert(gsum == t.map(_ & 0xff).map(_.toLong).sum, s"sum for $id")
    }
    // dims agree with the declarative plan (resizeDims Column logic)
    val planned = Seq((1L, 20, 9), (2L, 5, 16), (3L, 4, 3)).toDF("media_id", "width", "height")
    val (owc, ohc) = Multimodal.resizeDims(col("width"), col("height"), 8, 6)
    val plan = planned.select(col("media_id"), owc.as("ow"), ohc.as("oh"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    for ((id, (gw, gh, _, _)) <- got) assert(plan(id) == ((gw, gh)), s"plan/exec agree $id")
  }

  test("audioFeatures: exact stats against an in-memory reference, incl. sign edges") {
    import spark.implicits._
    // channel 0 crosses zero repeatedly; channel 1 stays negative (zc=0);
    // include the extreme -32768 for the abs/peak edge
    val samples = Array(
      Array(100, -200, 300, -32768, 0, -1),  // ch0 (0 counts as non-negative)
      Array(-5, -6, -7, -8, -9, -10))        // ch1
    val blob = graft.codec.MediaFixtures.wav(2, 8000, 6, (i, c) => samples(c)(i))
    val got = Multimodal.audioFeatures(Seq((7L, blob)).toDF("media_id", "blob"),
        "media_id", "blob")
      .collect().map(r => r.getInt(1) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getInt(7)))).toMap
    def refOf(xs: Array[Int]) = (
      xs.length.toLong, xs.map(_.toLong).sum, xs.map(v => v.toLong * v).sum,
      xs.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)).toLong, xs.map(math.abs).max)
    assert(got(0) == refOf(samples(0)))
    assert(got(1) == refOf(samples(1)))
    assert(got(0)._4 == 5L, "ch0 alternates sign at all 5 boundaries (0 counts non-negative)")
    assert(got(1)._4 == 0L, "all-negative channel has zero crossings")
  }

  test("ragChunks: stride/overlap geometry, short docs, empty docs") {
    import spark.implicits._
    val doc = (1 to 10).map(i => s"t$i").mkString(" ") // 10 tokens
    val df = Seq((1L, doc), (2L, "a b"), (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextOps.ragChunks(df, "doc_id", "text", chunkTokens = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // stride 2: starts 1,3,5,7,9 — five chunks, tail is 2 tokens
    assert(out.keys.count(_._1 == 1L) === 5)
    assert(out((1L, 0L)) === ((1L, 4L)) && out((1L, 3L)) === ((7L, 4L)))
    assert(out((1L, 4L)) === ((9L, 2L)), "tail chunk is short")
    // short doc: one chunk of its own length
    assert(out.keys.count(_._1 == 2L) === 1 && out((2L, 0L)) === ((1L, 2L)))
    // empty/null docs: no chunks
    assert(!out.keys.exists(k => k._1 == 3L || k._1 == 4L))
    // consecutive chunks overlap by exactly `overlap` tokens: start deltas = stride
    val starts = (0 to 4).map(i => out((1L, i.toLong))._1)
    assert(starts === Seq(1L, 3L, 5L, 7L, 9L))
  }

  test("resizeDims: aspect preserved, no upscale, both binding sides, degenerate guards") {
    import spark.implicits._
    val cases = Seq(
      (1L, Some(32), Some(20)),   // inside the box: untouched
      (2L, Some(640), Some(480)), // height-bound for 64x48 (640*48 < 480*64 is false -> equal, width-bound)
      (3L, Some(1280), Some(480)),// clearly width-bound
      (4L, Some(100), Some(4800)),// clearly height-bound
      (5L, Some(6400), Some(1)),  // extreme aspect: floor guard -> out_h = 1
      (6L, None, None))           // audio row: nulls pass through
    val df = cases.toDF("id", "w", "h")
    val (ow, oh) = Multimodal.resizeDims(col("w"), col("h"), maxW = 64, maxH = 48)
    val got = df.select(col("id"), ow.as("ow"), oh.as("oh"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Int]), Option(r.get(2)).map(_.asInstanceOf[Int])))).toMap
    assert(got(1L) === ((Some(32), Some(20))))
    assert(got(2L) === ((Some(64), Some(48)))) // 640x480 = 4:3 = 64:48 exactly
    assert(got(3L) === ((Some(64), Some(24))))
    assert(got(4L) === ((Some(1), Some(48))))
    assert(got(5L) === ((Some(64), Some(1))), "floor guard must keep dims >= 1")
    assert(got(6L) === ((None, None)))
    // bounds hold everywhere
    got.values.foreach { case (w, h) =>
      w.foreach(v => assert(v >= 1 && v <= 64)); h.foreach(v => assert(v >= 1 && v <= 48))
    }
  }

  test("containmentPairs: a quote inside an article scores 1.0 where jaccard is low") {
    import spark.implicits._
    val article = (1 to 40).map(i => s"w$i").mkString(" ")
    val quote = (5 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, article), (2L, quote),
      (3L, (100 to 120).map(i => s"x$i").mkString(" ")))
      .toDF("doc_id", "text")
    // bands = 8 (r = 1): any matching signature slot surfaces the pair —
    // the quote's shingle set is a strict subset, so slots collide
    // whenever the article's argmin shingle falls inside the quote
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 3, k = 8, bands = 8, minPermille = 900)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6)))).toMap
    val p = out((1L, 2L))
    // quote: 16 tokens -> 14 shingles, all inside the article's 38
    assert(p._1 === 14L && p._3 === 14L && p._2 === 38L)
    assert(p._4 === 1.0 && p._5, s"full containment expected: $p")
    // jaccard would be 14/38 = 0.37 — under any near-dup threshold
    assert(p._1.toDouble / (p._2 + p._3 - p._1) < 0.4)
    assert(!out.contains((1L, 3L)) && !out.contains((2L, 3L)),
      "unrelated doc must not pair")
  }

  test("jaccard column: exact set semantics") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j"))
    assert(df.head().getDouble(0) == 0.5)
  }

  test("cosine: known values and zero-norm NULL guard") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), "same"),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), "orth"),
      (Seq(1.0f, 0.0f), Seq(0.0f, 0.0f), "zero"))
      .toDF("a", "b", "tag")
      .select(col("tag"), Similarity.cosine(col("a"), col("b")).as("c"))
    val m = df.collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(m("same").contains(1.0))
    assert(m("orth").contains(0.0))
    assert(m("zero").isEmpty)
  }

  test("brute-force topk and IVF probe agree on an easy cluster layout") {
    // two well-separated clusters on the first axis
    val vecs = (1L to 10L).map(i => (i, Seq(1.0f, (i * 0.01).toFloat))) ++
      (11L to 20L).map(i => (i, Seq(-1.0f, (i * 0.01).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val query = Seq((0L, Seq(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val centroids = Seq((100L, Seq(1.0f, 0.0f)), (101L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")

    val brute = Similarity.cosineTopK(df, "vec_id", "embedding", query, 5)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(df, "vec_id", "embedding", centroids, "vec_id", query, 5)
      .collect().map(_.getLong(0)).toSet
    assert(brute == ivf) // query's cluster contains all true top-5
    assert(brute.forall(_ <= 10)) // all from the +1 cluster
  }

  test("trainCentroids separates an easy two-cluster layout; 1-probe IVF = brute force") {
    val vecs = (1L to 10L).map(i => (i, Seq(1.0f, (i * 0.01).toFloat))) ++
      (11L to 20L).map(i => (i, Seq(-1.0f, (i * 0.01).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val trained = Similarity.trainCentroids(df, "vec_id", "embedding", k = 2, iters = 3)
    val cents = trained.collect().map(_.getSeq[Float](1).head)
    assert(cents.exists(_ > 0.5) && cents.exists(_ < -0.5)) // one per cluster

    val query = Seq((0L, Seq(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val brute = Similarity.cosineTopK(df, "vec_id", "embedding", query, 5)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(df, "vec_id", "embedding", trained, "vec_id", query, 5)
      .collect().map(_.getLong(0)).toSet
    assert(ivf == brute)
  }

  test("sign-LSH near-dup pairs stay within buckets") {
    val df = Seq(
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(0.9f, 1.1f)), // same bucket "11", similar
      (3L, Seq(-1.0f, 1.0f))) // bucket "01"
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(df, "vec_id", "embedding", p = 2, minCos = 0.9)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id_a") == 1 && pairs.head.getAs[Long]("id_b") == 2)
  }

  test("nearDupPairs: maxBucket caps a degenerate one-bucket corpus at O(cap²)") {
    // 30 near-identical vectors, all in sign-bucket "11": uncapped this is
    // C(30,2)=435 pairs; cap 5 keeps the 5 smallest ids → C(5,2)=10
    val df = (1L to 30L).map(i => (i, Seq(1.0f, 1.0f + i * 1e-4f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(df, "vec_id", "embedding",
      p = 2, minCos = 0.9, maxBucket = 5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.size == 10)
    assert(pairs.flatMap(p => Set(p._1, p._2)) == (1L to 5L).toSet)
  }

  test("incremental LSH pairs: batch meets corpus only — no corpus×corpus, no batch×batch") {
    val corpus = docs(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // corpus-internal dup
      (3L, "completely different words entirely unrelated content here today now"))
    val batch = docs(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 1 and 2
      (11L, "the quick brown fox jumps over the lazy dog again and again"), // batch-internal dup of 10
      (12L, "fresh novel sentence with no overlap whatsoever in this batch"))
    val buckets = Dedup.bandBuckets(Dedup.bandIndex(corpus, "doc_id", "text", 3, 8, 4))
    val pairs = Dedup.incrementalLshPairs(batch, "doc_id", "text", buckets, corpus)
      .collect().map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("doc_old"),
        r.getAs[Long]("n_shared_bands"), r.getAs[Double]("jaccard"))).toSet
    // exactly batch→corpus edges: {10,11} × {1,2}, all 4 bands, jaccard 1.0
    assert(pairs == Set((10L, 1L, 4L, 1.0), (10L, 2L, 4L, 1.0),
      (11L, 1L, 4L, 1.0), (11L, 2L, 4L, 1.0)))
  }

  test("semantic dedup: pairs form within IVF cells; one canonical row per family survives") {
    val cents = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val df = Seq(
      (10L, Seq(1.0f, 0.10f)),  // cell 1
      (11L, Seq(1.0f, 0.11f)),  // cell 1, near-dup of 10
      (12L, Seq(1.0f, 0.90f)),  // cell 2 (closer to e2 than e1? cos(e1)=0.74, cos(e2)=0.67 → cell 1)
      (13L, Seq(0.1f, 1.0f)))   // cell 2
      .toDF("vec_id", "embedding")
    val pairs = Similarity.semanticNearDupPairs(df, "vec_id", "embedding",
      cents, "vec_id", minCos = 0.99)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.toSet == Set((10L, 11L))) // 12 shares cell 1 but cos < 0.99; 13 is alone in cell 2
    val kept = Similarity.semanticDedup(df, "vec_id", "embedding",
      cents, "vec_id", minCos = 0.99)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(kept == Set(10L, 12L, 13L)) // 11 collapses into 10's family
  }

  test("flattenedKeepPermille: rarest stratum keeps 1000‰, dominant flattens by sqrt") {
    val rates = Sharding.flattenedKeepPermille(Map("en" -> 400L, "de" -> 100L, "zh" -> 25L))
    assert(rates("zh") == 1000)                       // rarest keeps all
    assert(rates("de") == 500)                        // sqrt(25/100) = 1/2
    assert(rates("en") == 250)                        // sqrt(25/400) = 1/4
    // expected post-sample mass ratio en:de:zh = 100:50:25 — flattened
    // from 16:4:1 toward uniform but order-preserving
    intercept[IllegalArgumentException](Sharding.flattenedKeepPermille(Map.empty))
    intercept[IllegalArgumentException](Sharding.flattenedKeepPermille(Map("x" -> 0L)))
  }

  test("knnLabel: majority vote over cell neighbors, ties to the smallest label") {
    val cents = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    // cell-1 rows rank (cos desc, id asc): 200, 201 (both round to
    // cos 1.0 — id breaks the tie), then 202 (0.9999); 203 is in cell 2
    val corpus = Seq(
      (200L, Seq(1.0f, 0.01f), 7), (201L, Seq(1.0f, 0.02f), 3),
      (202L, Seq(1.0f, 0.03f), 7), (203L, Seq(0.0f, 1.0f), 9))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((100L, Seq(1.0f, 0.015f))).toDF("vec_id", "embedding")
    def pred(k: Int) = Similarity.knnLabel(queries, corpus,
      "vec_id", "embedding", "label", cents, "vec_id", k = k, probes = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // k=3: all three cell-1 rows vote → 7 wins 2:1
    assert(pred(3).toSeq == Seq((100L, 7, 2L)))
    // k=2: neighbors 200 (7) and 201 (3) — a 1-1 tie breaks to label 3
    assert(pred(2).toSeq == Seq((100L, 3, 1L)))
  }

  test("salted join and salted agg: identical results to the plain forms on skewed data") {
    // 90% of rows share one key — the hot-key shape salting exists for
    val big = ((1 to 900).map(_ => (1L, "hot")) ++ (1 to 100).map(i => (i.toLong % 7 + 2, s"v$i")))
      .toDF("k", "payload")
    val dim = Seq((1L, "one"), (2L, "two"), (3L, "three"), (4L, "four"),
      (5L, "five"), (6L, "six"), (7L, "seven"), (8L, "eight")).toDF("k", "name")

    val plain = big.join(dim, Seq("k")).groupBy("k", "name").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val salted = Skew.saltedJoin(big, dim, Seq("k"), factor = 8)
      .groupBy("k", "name").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(salted == plain)

    val plainAgg = big.groupBy("k").agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("len"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val saltedAgg = Skew.saltedAgg(big, Seq("k"), factor = 8,
      partial = Seq(count(lit(1)).as("n"), sum(length(col("payload"))).as("len")),
      combine = Seq(sum("n").as("n"), sum("len").as("len")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(saltedAgg == plainAgg)
  }

  test("multimodal: decode schema, deterministic stub, frame sampling, features") {
    val media = docs((1L, "hello world"), (2L, "x")).select(
      col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
    val meta = Multimodal.decodeMeta(media, "doc_id", "blob")
    assert(meta.schema.fieldNames.toSeq ==
      Seq("media_id", "byte_len", "format_sig", "width", "height", "n_frames",
        "format", "bit_depth", "channels", "sample_rate", "duration_ms"))
    val m = meta.collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Long]("byte_len") == 11)
    assert(m(1L).getAs[String]("format_sig") == "68656c6c") // "hell"
    // deterministic: same input, same metadata across runs
    val again = Multimodal.decodeMeta(media, "doc_id", "blob").collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("width")).toMap
    assert(again(1L) == m(1L).getAs[Int]("width"))

    val frames = Multimodal.sampleFrames(meta, stride = 3)
    val fcount = frames.filter(col("media_id") === 1).count()
    assert(fcount == (m(1L).getAs[Int]("n_frames") + 2) / 3)

    val feats = Multimodal.extractFeatures(media, "doc_id", "blob")
    val f = feats.filter(col("media_id") === 1).head().getSeq[Double](1)
    assert(f.length == 8)
    assert(math.abs(f.sum - 1.0) < 1e-9) // L1-normalized histogram
  }

  test("cross-doc gram coverage: shared spans count, within-doc repeats don't") {
    val shared = "alpha beta gamma delta"
    val out = TextOps.crossDupCoverage(docs(
      (1L, s"$shared unique one two"), // grams of `shared` recur in doc 2
      (2L, s"$shared other words here"),
      (3L, "totally distinct text body now"),
      (4L, "loop loop loop loop loop loop")) // within-doc repeat, one distinct gram
      , "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L)._2 == 2 && out(2L)._2 == 2, "the 2 grams inside the shared span recur")
    assert(out(3L)._2 == 0, "no cross-doc grams")
    assert(out(4L) == (1L, 0L), "distinct-gram dedup: self-repetition is not cross-doc")
  }

  test("hash split: total, disjoint, deterministic, ratio-true") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, i.toString)).toDF("id", "key")
    val split = Sharding.splitByHash(df, "key").cache()
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000, "every row lands in exactly one split")
    assert(counts("train") > 1700 && counts("val") > 50 && counts("test") > 50,
      s"roughly 90/5/5: $counts")
    val again = Sharding.splitByHash(df, "key")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(split.collect().forall(r => again(r.getLong(0)) == r.getString(2)),
      "membership is a pure function of the key")
    split.unpersist()
    intercept[IllegalArgumentException](Sharding.splitByHash(df, "key", 980, 40))
  }

  test("leakage-safe split: no near-dup cluster straddles; naive doc-hash split does") {
    import spark.implicits._
    // 60 near-dup pairs (ids 2i, 2i+1 share text) + distinct singletons
    val base = (1 to 25).map(i => s"w$i").mkString(" ")
    val rows = (0L until 120L).map { i =>
      (i, if (i % 2 == 0) s"$base pair${i / 2}" else s"$base pair${i / 2} x")
    } ++ (200L until 240L).map(i => (i, (1 to 25).map(j => s"u${i}t$j").mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    val clusters = Dedup.duplicateClusters(
      Dedup.lshCandidatePairs(df, "doc_id", "text", shingleN = 3, k = 8, bands = 4))
    val safe = Sharding.splitLeakageSafe(df, "doc_id", clusters)
    // invariant: every cluster_key maps to exactly one split
    assert(safe.groupBy("cluster_key").agg(countDistinct("split").as("ns"))
      .filter(col("ns") > 1).count() == 0)
    assert(safe.count() == df.count(), "left join preserves every doc")
    // the naive id-hash split DOES straddle at least one of those pairs
    val naive = Sharding.splitByHash(
      df.withColumn("_k", col("doc_id").cast("string")), "_k")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val straddled = (0L until 120L by 2).exists(i => naive(i) != naive(i + 1))
    assert(straddled, "fixture must exhibit the leak the operator prevents")
    // pairs are genuinely clustered (operator had something to protect)
    assert(clusters.count() >= 120)
  }

  test("vocab growth: first-occurrence buckets, empty buckets kept, cumulative exact") {
    // ids 0..9, nBuckets=5 → bucket = id div 2. "a" first at 0, "b" at 1,
    // "c" at 4; docs 5..9 all repeats → buckets 1(partial), 3, 4 empty of
    // new words except where firsts land
    val df = docs(
      (0L, "a a"), (1L, "a b"), (2L, "b"), (3L, "a"), (4L, "c b"),
      (5L, "a"), (6L, "b"), (7L, "c"), (8L, "a c"), (9L, ""))
    val out = TextOps.vocabGrowth(df, "doc_id", "text", nBuckets = 5)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 2L, 2L), (1L, 0L, 2L), (2L, 1L, 3L), (3L, 0L, 3L), (4L, 0L, 3L)))
  }

  test("PII redaction: emails, IPs, long digit runs; shorter runs survive") {
    val out = docs(
      (1L, "mail a.b+c@sub.example.org now"),
      (2L, "host 192.168.001.1 up, version 1.2"),
      (3L, "card 4111111111111111 ok, zip 94110, order 12345678"),
      (4L, "no pii here at all"))
      .select(col("doc_id"), TextOps.redactPii(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail <EMAIL> now")
    assert(out(2L) == "host <IP> up, version 1.2", "dotted short version numbers survive")
    assert(out(3L) == "card <NUM> ok, zip 94110, order 12345678",
      "9+ digit runs redact; 5- and 8-digit runs survive")
    assert(out(4L) == "no pii here at all")
  }

  test("winnowing fingerprints: local (shared content ⇒ shared prints), windows complete") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val shifted = "PREFIX " + base // same content, shifted positions
    val other = "completely unrelated text with different character content entirely here"
    val df = docs((1L, base), (2L, shifted), (3L, other), (4L, "tiny"))
    val fp = TextOps.winnowingFingerprints(df, "doc_id", "text", k = 8, window = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    // winnowing selects LOCAL minima: a shifted copy shares most fingerprints
    val overlap = fp(1L).intersect(fp(2L)).size.toDouble / fp(1L).size
    assert(overlap > 0.8, s"overlap $overlap")
    assert(fp(1L).intersect(fp(3L)).isEmpty)
    assert(!fp.contains(4L)) // shorter than one k-gram: no fingerprints
  }

  test("rolling fingerprint: deterministic, shift-sensitive, short-text NULL") {
    val df = docs((1L, "abcdefghij"), (2L, "abcdefghij"), (3L, "zbcdefghij"), (4L, "short"))
      .select(col("doc_id"), TextOps.rollingFingerprint(col("text"), 8).as("fp"))
    val m = df.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(m(1L) == m(2L) && m(1L).isDefined)
    assert(m(4L).isEmpty)
  }

  test("sharding: deterministic content-keyed assignment; writer lays out shard dirs") {
    val df = docs((0 until 40).map(i => (i.toLong, s"document body $i")): _*)
    val a1 = Sharding.assign(df, "text", nShards = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("shard")).toMap
    // deterministic: same content → same shard, independent of row order
    val a2 = Sharding.assign(df.orderBy(desc("doc_id")), "text", nShards = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("shard")).toMap
    assert(a1 == a2)
    assert(a1.values.forall(s => s >= 0 && s < 8))
    assert(a1.values.toSet.size > 1, "content spreads across shards")

    val out = tmpDir("graft-shards")
    Sharding.writeShards(df, out, "text", nShards = 8)
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.nonEmpty && dirs.forall(d => a1.values.toSet.contains(d.stripPrefix("shard=").toInt)))
    // reading back preserves membership
    val back = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("shard")).toMap
    assert(back == a1)
  }

  test("duplicate-ngram fraction: prose ~0, boilerplate high, short-doc NULL") {
    val df = docs(
      (1L, "the quick brown fox jumps over the lazy dog"), // all 8 bigrams distinct → 0
      (2L, "buy now buy now buy now buy now"), // 7 bigrams, 2 distinct → 5/7
      (3L, "word"), // no bigram → NULL
      (4L, "")) // no tokens → NULL
      .select(col("doc_id"),
        TextOps.dupNgramFraction(TextOps.tokens(col("text")), 2).as("f"))
    val m = df.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(m(1L).contains(0.0))
    assert(m(2L).contains(math.rint(5.0 / 7.0 * 10000) / 10000))
    assert(m(3L).isEmpty && m(4L).isEmpty)
  }

  test("duplicateClusters: min-id components, chains propagate, singletons excluded") {
    import spark.implicits._
    // component {1,2,3,9} as a CHAIN (9-1, 1-2, 2-3: label must propagate
    // two hops, exercising the iteration), component {5,6} as one pair;
    // doc 7 appears in no pair and must be absent from the output
    val pairs = Seq((9L, 1L), (1L, 2L), (2L, 3L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L)
    // driver union-find path (the default below driverEdgeLimit)
    val got = graft.operators.Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(!got.contains(7L))
    // distributed label-propagation path (forced): identical labels
    val dist = graft.operators.Dedup.duplicateClusters(pairs, driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expect, "driver and distributed paths must agree")

    // a 64-doc chain needs pointer doubling to settle inside maxRounds=8
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val chainGot = graft.operators.Dedup
      .duplicateClusters(chain, maxRounds = 8, driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainGot == (0L to 63L).map(_ -> 0L).toMap,
      "doubling must converge a 64-chain in <= 8 rounds")

    // empty pair graph → empty labeling (the convergence loop must not spin)
    val empty = graft.operators.Dedup.duplicateClusters(
      pairs.filter(col("doc_a") < 0))
    assert(empty.count() == 0)
  }

  test("sampleByHash: deterministic, nested by rate, stratified default drops") {
    import spark.implicits._
    val docs = (0 until 500).map(i => (i.toLong, s"content-$i",
      Seq("en", "de", "zh")(i % 3))).toDF("doc_id", "text", "lang")
    val at300 = graft.operators.Sharding.sampleByHash(docs, "text", 300)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val at600 = graft.operators.Sharding.sampleByHash(docs, "text", 600)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // deterministic re-run and NESTED samples: raising the rate only ADDS
    assert(at300 == graft.operators.Sharding.sampleByHash(docs, "text", 300)
      .select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(at300.subsetOf(at600))
    assert(at300.size < at600.size && at600.size < 500)
    // rate is approximately honored on uniform content
    assert(math.abs(at300.size - 150) < 60, s"~30% expected, got ${at300.size}/500")

    val strat = graft.operators.Sharding.sampleStratified(docs, "text", "lang",
      Map("en" -> 1000, "de" -> 500))
    val langs = strat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(langs.getOrElse("zh", 0L) == 0L, "absent stratum keeps defaultPermille = 0")
    assert(langs("en") == docs.filter(col("lang") === "en").count(), "1000 permille keeps all")
    assert(langs("de") > 0 && langs("de") < docs.filter(col("lang") === "de").count())
  }

  test("contamination: exact overlap scores 1.0, disjoint scores 0, sub-n docs NULL") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps high"), // identical → every shingle hits
      (2L, "completely different words entirely here now"), // disjoint → 0
      (3L, "fox jumps high and keeps going far"), // partial overlap
      (4L, "too short")) // < n tokens → no shingles → NULL fraction
      .toDF("doc_id", "text")
    val m = graft.operators.TextOps.contamination(corpus, "doc_id", "text", bench, "text", shingleN = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), Option(r.get(3)))).toMap
    assert(m(1L)._1 > 0 && m(1L)._2.contains(1.0))
    assert(m(2L) == ((0L, Some(0.0))))
    assert(m(3L)._1 == 1 && m(3L)._2.exists(f => f.asInstanceOf[Double] > 0 && f.asInstanceOf[Double] < 1))
    assert(m(4L) == ((0L, None)), "sub-n docs have no shingles, fraction NULL")
  }

  test("bm25 index: build+update ≡ full build bit-for-bit; stored serve ≡ fresh two-scan ranker") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vocab = Vector("spark", "window", "merge", "filter", "join", "scan", "sort", "agg")
    val docs = (1L to 60L).map(i =>
      (i, Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val (a, b) = (docs.filter(col("doc_id") <= 30), docs.filter(col("doc_id") > 30))
    val incDir = tmpDir("bm25-inc"); val fullDir = tmpDir("bm25-full")
    graft.operators.TextOps.bm25IndexBuild(incDir, a, "text")
    graft.operators.TextOps.bm25IndexUpdate(spark, incDir, b, "text")
    graft.operators.TextOps.bm25IndexBuild(fullDir, docs, "text")
    def stats(dir: String) = (
      spark.read.parquet(s"$dir/meta").collect().head.toSeq,
      spark.read.parquet(s"$dir/df").orderBy("term").collect().map(_.toSeq).toSeq)
    assert(stats(incDir) == stats(fullDir), "exact long sums make update ≡ rebuild")
    val stored = graft.operators.TextOps.bm25TopKStored(spark, incDir, docs,
      "doc_id", "text", Seq("spark", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val fresh = graft.operators.TextOps.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(stored == fresh, "one-scan stored serve ranks exactly like the fresh ranker")
  }

  test("bm25 postings: partition-pruned serve ranks exactly like the fresh two-scan ranker") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val vocab = Vector("spark", "window", "merge", "filter", "join", "scan", "sort", "agg")
    val docs = (1L to 80L).map(i =>
      (i, Seq.fill(5 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val dir = tmpDir("bm25-post")
    graft.operators.TextOps.bm25IndexBuild(dir, docs, "text")
    graft.operators.TextOps.bm25PostingsBuild(dir, docs, "doc_id", "text", nBuckets = 8)
    val served = graft.operators.TextOps.bm25TopKPostings(spark, dir,
      Seq("spark", "merge"), k = 12, nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val fresh = graft.operators.TextOps.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "merge"), k = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(served == fresh)
    // incremental: build on half, append the other half — same serve
    val incDir = tmpDir("bm25-post-inc")
    val (h1, h2) = (docs.filter(col("doc_id") <= 40), docs.filter(col("doc_id") > 40))
    graft.operators.TextOps.bm25IndexBuild(incDir, h1, "text")
    graft.operators.TextOps.bm25PostingsBuild(incDir, h1, "doc_id", "text", nBuckets = 8)
    graft.operators.TextOps.bm25IndexUpdate(spark, incDir, h2, "text")
    graft.operators.TextOps.bm25PostingsUpdate(incDir, h2, "doc_id", "text", nBuckets = 8)
    val servedInc = graft.operators.TextOps.bm25TopKPostings(spark, incDir,
      Seq("spark", "merge"), k = 12, nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(servedInc == fresh, "appended postings + folded stats serve ≡ full build")
    // the pruned read touches only the queried terms' buckets
    val touched = Seq("spark", "merge").map(t =>
      spark.range(1).select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(org.apache.spark.sql.functions.lit(t)),
        org.apache.spark.sql.functions.lit(8)).as("b")).collect().head.getInt(0)).toSet
    assert(touched.size <= 2, "two terms map to at most two buckets of eight")
  }

  test("postings and shard rebuilds replace every partition under a dynamic session default") {
    import spark.implicits._
    withConf("spark.sql.sources.partitionOverwriteMode", "dynamic") {
      val a = (1L to 40L).map(i => (i, s"w$i common")).toDF("doc_id", "text")
      val b = Seq((1L, "common")).toDF("doc_id", "text")
      val dir = tmpDir("bm25-rebuild")
      graft.operators.TextOps.bm25PostingsBuild(dir, a, "doc_id", "text", nBuckets = 8)
      graft.operators.TextOps.bm25PostingsBuild(dir, b, "doc_id", "text", nBuckets = 8)
      val bucketsOfB = Seq(b.select(pmod(hash(lit("common")), lit(8))).head().getInt(0))
      val bucketDirs = new java.io.File(s"$dir/postings").list().filter(_.startsWith("bucket="))
      assert(bucketDirs.toSeq == bucketsOfB.map(n => s"bucket=$n"), "no bucket of A survives")
      assert(spark.read.parquet(s"$dir/postings").count() == 1)
      val out = s"${tmpDir("shard-rebuild")}/shards"
      Sharding.writeShards(a, out, "text", nShards = 8)
      Sharding.writeShards(b, out, "text", nShards = 8)
      assert(spark.read.parquet(out).count() == 1, "no shard of A survives")
    }
  }

  test("mixtureSolver: want/take/rate/deficit exact; undeclared source gets zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j", "curated"),   // 10 tokens
      (2L, "a b c d e f g h i j", "curated"),   // curated avail = 20
      (3L, ("w " * 100).trim, "web"),           // web avail = 100
      (4L, "x y z", "stray"))                   // undeclared
      .toDF("doc_id", "text", "source")
    val plan = graft.operators.Sharding.mixtureSolver(docs, "source", "text",
      targetPermille = Map("curated" -> 500L, "web" -> 500L), budgetTokens = 80L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getBoolean(7)))).toMap
    // curated: want 80*500/1000 = 40 > avail 20 → take 20, rate 1.0, deficit
    assert(plan("curated") == ((20L, 500L, 40L, 20L, 1.0, true)))
    // web: want 40 ≤ avail 100 → take 40, rate 0.4, no deficit
    assert(plan("web") == ((100L, 500L, 40L, 40L, 0.4, false)))
    // stray: permille 0 → want 0, take 0, rate 0, no deficit
    assert(plan("stray") == ((3L, 0L, 0L, 0L, 0.0, false)))
  }

  test("maxSimTopK: per-token best match sums; finds cross-position matches plain cosine misses") {
    import spark.implicits._
    def f(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val rows = Seq(
      (0L, f(1, 0, 0, 1)),   // query: tokens [1,0] and [0,1]
      (1L, f(0, 1, 1, 0)),   // A: tokens swapped vs query → maxsim 2.0, plain cosine 0
      (2L, f(1, 0, 1, 0)),   // B: one matching token → maxsim 1.0
      (3L, f(-1, 0, 0, -1))) // C: anti-aligned → maxes clamp at 0 → 0.0
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = graft.operators.Similarity.maxSimTopK(
      rows.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      query = rows.filter(col("vec_id") === 0), dims = 4, m = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == Seq((1L, 2.0), (2L, 1.0), (3L, 0.0)))
    // the single-vector baseline scores A at 0 — late interaction is the point
    val plain = graft.operators.Similarity.cosineTopK(
      rows.filter(col("vec_id") === 1), "vec_id", "embedding",
      query = rows.filter(col("vec_id") === 0), k = 1)
      .collect().head.getDouble(1)
    assert(plain == 0.0)
  }

  test("retrievalEval: perfect ranker scores 1.0, absent term scores empty, partial in between") {
    import spark.implicits._
    // 4 docs: doc 1-2 contain "cat", doc 3 contains "cat dog", doc 4 neither
    val docs = Seq(
      (1L, "cat sat on the mat"),
      (2L, "a cat and a cat again here"),   // tf=2 → ranks above doc 1
      (3L, "cat dog cat dog walk"),
      (4L, "nothing relevant at all here")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.retrievalEval(docs, "doc_id", "text",
      Seq("q_cat" -> Seq("cat"), "q_catdog" -> Seq("cat", "dog"), "q_none" -> Seq("zebra")),
      k = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), Option(r.get(4)), Option(r.get(5))))).toMap
    // q_cat: 3 relevant docs, all in top-10 → recall 1.0, first hit rank 1 → rr 1.0
    assert(out("q_cat")._1 == 3L && out("q_cat")._2 == 3L)
    assert(out("q_cat")._3 == 1.0 && out("q_cat")._4.contains(1.0))
    assert(out("q_cat")._5.contains(1.0), "all relevant retrieved contiguously from rank 1 → ndcg 1")
    // q_catdog: only doc 3 has both; it also top-ranks (both terms fire)
    assert(out("q_catdog")._1 == 1L && out("q_catdog")._2 == 1L && out("q_catdog")._3 == 1.0)
    // q_none: term absent → no relevant, no scored rows, metrics zero/null
    assert(out("q_none")._1 == 0L && out("q_none")._2 == 0L && out("q_none")._3 == 0.0)
    assert(out("q_none")._4.isEmpty && out("q_none")._5.isEmpty)
  }

  test("piiProfile: class counts respect masking precedence, clean text all-zero") {
    import spark.implicits._
    val rows = Seq(
      (1L, "mail a@b.com and c.d@e.org plus ip 10.0.0.1 and acct 1234567890"),
      (2L, "no pii here at all"),
      (3L, "digits inside email x12345678901@y.com must not count as numbers"),
      (4L, "ip 192.168.0.1 only"),
      (5L, "")).toDF("doc_id", "text")
    val m = rows.select(col("doc_id"), graft.operators.TextOps.piiProfile(col("text")).as("p"))
      .select(col("doc_id"), col("p.n_emails"), col("p.n_ips"), col("p.n_longnums"), col("p.has_pii"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(m(1L) == ((2L, 1L, 1L, true)))
    assert(m(2L) == ((0L, 0L, 0L, false)))
    assert(m(3L) == ((1L, 0L, 0L, true)), "email's digit run is masked before number counting")
    assert(m(4L) == ((0L, 1L, 0L, true)))
    assert(m(5L) == ((0L, 0L, 0L, false)))
  }

  test("contaminationBloomPruned: identical to exact contamination on a mixed corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def sentence(n: Int): String = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bench = (100L until 110L).map(i => (i, sentence(12))).toDF("doc_id", "text")
    val benchTexts = bench.collect().map(_.getString(1))
    // corpus: some docs quote benchmark spans, some are clean, one sub-n
    val corpus = ((1L to 40L).map { i =>
      val t =
        if (i % 5 == 0) sentence(4) + " " + benchTexts((i % 10).toInt) + " " + sentence(4)
        else if (i == 7L) "too short"
        else sentence(15)
      (i, t)
    }).toDF("doc_id", "text")
    val exact = graft.operators.TextOps.contamination(
      corpus, "doc_id", "text", bench, "text", shingleN = 3)
    val bloomed = graft.operators.TextOps.contaminationBloomPruned(
      corpus, "doc_id", "text", bench, "text", shingleN = 3, fpp = 0.01)
    val ke = exact.orderBy("doc").collect().map(_.toSeq).toSeq
    val kb = bloomed.orderBy("doc").collect().map(_.toSeq).toSeq
    assert(ke == kb, "bloom prune + exact confirm must be invisible in the result")
    assert(ke.exists(r => r(2).asInstanceOf[Long] > 0), "fixture has real hits")
    assert(ke.exists(r => r(2).asInstanceOf[Long] == 0), "fixture has clean docs")
  }

  test("knnJoin: every row gets at most k ranked neighbors from its probed cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val cents = (0 until 4).map(c => (c.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val centDf = cents.toDF("cid", "v").select(col("cid"), col("v").cast("array<float>").as("v"))
    val corpus = (10 until 110).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "v").select(col("id"), col("v").cast("array<float>").as("v"))
    val out = graft.operators.Similarity.knnJoin(corpus, "id", "v", centDf, "cid", k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byA = out.groupBy(_._1)
    assert(byA.nonEmpty && byA.values.forall(_.length <= 3))
    byA.values.foreach { ns =>
      val sorted = ns.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length).toSeq, "ranks are 1..n dense")
      assert(sorted.sliding(2).forall(p => p.length < 2 || p(0)._3 >= p(1)._3),
        "neighbors ordered by similarity")
    }
    assert(out.forall(p => p._1 != p._2), "no self-pairs")
    // probing ALL cells makes the join exact: equals brute-force top-3
    val all = graft.operators.Similarity.knnJoin(corpus, "id", "v", centDf, "cid", k = 3, probes = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(desc("cs"), asc("id_b"))
    val brute = corpus.crossJoin(corpus.select(col("id").as("id_b"), col("v").as("vb")))
      .filter(col("id") =!= col("id_b"))
      .select(col("id"), col("id_b"),
        round(graft.operators.Similarity.cosine(col("v"), col("vb")), 4).as("cs"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(all == brute, "all-cell probing must equal brute-force top-k")
  }

  test("epochOrder: bucketed positions equal the naive total order; seed re-permutes") {
    import spark.implicits._
    val df = (0L until 1000L).toDF("id")
    def posMap(seed: String, buckets: Int) =
      Sharding.epochOrder(df, "id", seed, buckets)
        .select("id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p = posMap("e1", 256)
    assert(p.values.toSeq.sorted == (0L until 1000L), "exact permutation 0..n-1")
    // naive reference: sort by the same key on the driver
    val naive = (0L until 1000L)
      .sortBy(id => java.security.MessageDigest.getInstance("MD5")
        .digest(s"e1:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .zipWithIndex.map { case (id, i) => id -> i.toLong }.toMap
    assert(p == naive, "bucketed composition must equal the global sort exactly")
    assert(posMap("e1", 7) == p && posMap("e1", 1) == p,
      "bucket count is invisible to the order (contiguous ranges)")
    val p2 = posMap("e2", 256)
    assert(p2 != p, "a new seed is a new permutation")
    assert(p2.values.toSeq.sorted == (0L until 1000L))
  }

  test("packSequences: concatenate-and-chunk offsets, straddling docs, empty docs") {
    import spark.implicits._
    // one shard (nShards = 1): docs of 100/30/0/900 tokens, seqLen 128
    val docs = Seq((1L, "k1", 100L), (2L, "k2", 30L), (3L, "k3", 0L), (4L, "k4", 900L))
      .toDF("doc_id", "key", "n_tokens")
    val got = graft.operators.Sharding
      .packSequences(docs, "doc_id", "n_tokens", keyCol = "key", nShards = 1, seqLen = 128)
      .select("doc_id", "tok_start", "pack_first", "pack_last")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == ((0L, 0L, 0L)))       // tokens 0..99 → pack 0
    assert(got(2L) == ((100L, 0L, 1L)))     // tokens 100..129 STRADDLE packs 0/1
    assert(got(3L) == ((130L, 1L, 1L)))     // empty doc sits at its offset's pack
    assert(got(4L) == ((130L, 1L, 8L)))     // tokens 130..1029 span packs 1..8

    // shards pack independently: same doc set split across 4 shards
    // restarts tok_start at 0 within each shard
    val sharded = graft.operators.Sharding
      .packSequences(docs, "doc_id", "n_tokens", keyCol = "key", nShards = 4, seqLen = 128)
      .select("shard", "tok_start").collect()
    val firstPerShard = sharded.groupBy(_.getInt(0)).values.map(_.map(_.getLong(1)).min)
    assert(firstPerShard.forall(_ == 0L), "every shard's stream starts at offset 0")
  }

  test("exactRunCoverage: boundary runs, overlapping-run merge, within-doc repeats excluded") {
    // docs share "a b c d e f g" (7 tokens) — doc 1 carries it at the END
    // (boundary), doc 2 at the START; doc 3 repeats a 5-gram only within
    // ITSELF (not cross-doc); doc 4 is shorter than n and must be absent.
    val docs = Seq(
      (1L, "x1 x2 x3 a b c d e f g"),
      (2L, "a b c d e f g y1 y2 y3"),
      (3L, "p q r s t z1 z2 p q r s t"),
      (4L, "u v w")).toDF("doc_id", "text")
    val out = TextOps.exactRunCoverage(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(!out.contains(4L), "a doc below n tokens has no grams and no row")
    // the shared 7-token run = three overlapping 5-grams merging into ONE
    // region of 7, flush against the end of doc 1 / start of doc 2
    assert(out(1L) == ((10L, 7L, 0.7, 7L)), s"boundary-at-end run, got ${out(1L)}")
    assert(out(2L) == ((10L, 7L, 0.7, 7L)), s"boundary-at-start run, got ${out(2L)}")
    assert(out(3L) == ((12L, 0L, 0.0, 0L)),
      s"within-doc repetition is not cross-doc coverage, got ${out(3L)}")
  }

  test("exactRunCoverage: disjoint shared runs stay separate regions; gap ≤ n merges") {
    // doc 10 shares run A (positions 0-4) with doc 11 and run B
    // (positions 10-14) with doc 12: two islands, covered 10, max_run 5.
    val docs = Seq(
      (10L, "a1 a2 a3 a4 a5 m1 m2 m3 m4 m5 b1 b2 b3 b4 b5"),
      (11L, "a1 a2 a3 a4 a5 k1 k2 k3 k4 k5 k6 k7 k8 k9 k0"),
      (12L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c0 b1 b2 b3 b4 b5")).toDF("doc_id", "text")
    val out = TextOps.exactRunCoverage(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(4)))).toMap
    assert(out(10L) == ((10L, 5L)), s"two disjoint 5-runs: covered 10, max 5, got ${out(10L)}")
    assert(out(11L) == ((5L, 5L)) && out(12L) == ((5L, 5L)))
  }

  test("charRunCoverage: matches brute force; catches the sub-token duplicates token grams miss") {
    // docs 1/2: the SAME sentence, but doc 2 perturbs whitespace and
    // punctuation INSIDE the token stream — token n-grams share nothing
    // (every token neighborhood differs), char runs share long spans
    val s1 = "the quick brown fox jumps over the lazy dog while the cat watches quietly"
    val s2 = "the quick brown fox,jumps over the lazy dog while the cat  watches quietly"
    val docs = Seq((1L, s1), (2L, s2), (3L, "completely unrelated content here xyz"))
      .toDF("doc_id", "text")
    val k = 12
    // brute force: a char position (1-based) of doc d is covered iff
    // some k-substring of d containing it occurs in another doc
    val texts = Map(1L -> s1, 2L -> s2, 3L -> "completely unrelated content here xyz")
    def brute(d: Long): (Long, Long) = {
      val t = texts(d)
      val others = texts.filter(_._1 != d).values.toSeq
      val covered = Array.fill(t.length)(false)
      for (p <- 0 to t.length - k) {
        val g = t.substring(p, p + k)
        if (others.exists(_.contains(g))) (p until p + k).foreach(covered(_) = true)
      }
      // longest maximal covered region
      var best = 0; var cur = 0
      covered.foreach { c => if (c) { cur += 1; best = math.max(best, cur) } else cur = 0 }
      (covered.count(identity).toLong, best.toLong)
    }
    val got = TextOps.charRunCoverage(docs, "doc_id", "text", k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    texts.keys.foreach { d =>
      assert(got(d) == brute(d), s"doc $d: got ${got(d)}, brute ${brute(d)}")
    }
    assert(got(1L)._1 > 40L, "the perturbed duplicates share most of their chars")
    assert(got(3L) == ((0L, 0L)))
    // the token operator PROVABLY misses these: every token 3-gram of
    // doc 2 differs from doc 1's ("fox,jumps" is one token; the double
    // space shifts nothing but the punctuation badge breaks neighborhoods)
    val tok = TextOps.exactRunCoverage(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L)._1 > tok.getOrElse(1L, 0L),
      s"char tier must catch what token grams (covered ${tok.get(1L)}) miss")
  }

  test("charRunDedupText: keep-first char cut; anchored coverage is a bounded lower envelope") {
    val shared = "this exact boilerplate disclaimer footer appears everywhere verbatim"
    val docs = Seq(
      (1L, s"original article one. $shared"),
      (2L, s"$shared plus fresh tail content two"),
      (3L, "nothing shared at all in this document body")).toDF("doc_id", "text")
    val k = 16
    val cut = TextOps.charRunDedupText(docs, "doc_id", "text", k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(cut(1L)._2 == s"original article one. $shared", "first owner keeps its text")
    assert(!cut(2L)._2.contains("boilerplate") && cut(2L)._2.endsWith("content two"),
      s"later doc loses the shared run, keeps its fresh tail: '${cut(2L)._2}'")
    assert(cut(3L)._2 == "nothing shared at all in this document body")
    // anchored variant: a lower envelope of the exact operator with the
    // winnowing guarantee — the (longer than k+w-1) shared run is found
    val w = 8
    val exact = TextOps.charRunCoverage(docs, "doc_id", "text", k)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val anch = TextOps.charRunCoverageAnchored(docs, "doc_id", "text", k, w)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    docs.collect().map(_.getLong(0)).foreach { d =>
      assert(anch(d) <= exact(d), s"doc $d: anchored must never exceed exact")
    }
    assert(anch(1L) >= exact(1L) - (k + w).toLong && anch(1L) > 0,
      s"the ${shared.length}-char run (>= k+w-1) must anchor within edge slack: " +
        s"anchored ${anch(1L)}, exact ${exact(1L)}")
  }

  test("exactRunDedupText: keep-first removal, earlier doc intact, overlaps merge") {
    val docs = Seq(
      (1L, "x1 x2 x3 a b c d e f g"),          // earliest owner of the run: keeps all
      (2L, "a b c d e f g y1 y2 y3"),          // loses the 7-token run, keeps the tail
      (3L, "z1 a b c d e f g z2 z3"),          // loses the run mid-doc
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u0")).toDF("doc_id", "text")
    val out = TextOps.exactRunDedupText(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((10L, "x1 x2 x3 a b c d e f g")), s"first owner keeps: ${out(1L)}")
    assert(out(2L) == ((3L, "y1 y2 y3")), s"later copy cut: ${out(2L)}")
    assert(out(3L) == ((3L, "z1 z2 z3")), s"mid-doc cut keeps both flanks: ${out(3L)}")
    assert(out(4L) == ((10L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u0")), "unique doc untouched")
  }

  test("exactRunDedupText: a fully-shared later doc empties; within-doc repeats survive") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),                      // exact later copy: fully removed
      (3L, "p q r s t p q r s t")).toDF("doc_id", "text") // repeats only within itself
    val out = TextOps.exactRunDedupText(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(2L) == ((0L, "")), s"full later copy must empty: ${out(2L)}")
    assert(out(3L) == ((10L, "p q r s t p q r s t")),
      "within-doc repetition is not cross-doc and survives")
  }

  test("ngramNovelty: unique docs score 1.0, exact copies 0.0, df counts docs not repeats") {
    val docs = Seq(
      (1L, "a b c d e"),            // shares both grams with doc 2
      (2L, "a b c d e"),
      (3L, "p q r s t"),            // fully unique
      (4L, "x y x y x y x y")).toDF("doc_id", "text") // repeats only internally
    val out = TextOps.ngramNovelty(docs, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((2L, 0.0, 2.0)) && out(2L) == ((2L, 0.0, 2.0)),
      s"exact copies: nothing novel, every gram in 2 docs — ${out(1L)}")
    assert(out(3L) == ((2L, 1.0, 1.0)), "unique doc is fully novel")
    assert(out(4L)._2 == 1.0 && out(4L)._3 == 1.0,
      "within-doc repeats dedupe: df counts documents, not occurrences")
  }

  test("samplePerGroup: deterministic bound per group, heap plan (no window sort)") {
    val df = (0 until 500).map(i => (i.toLong, s"src${i % 3}")).toDF("doc_id", "source")
    val out = Sharding.samplePerGroup(df, "source", "doc_id", n = 10)
    val counts = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ == 10) && counts.size == 3)
    val again = Sharding.samplePerGroup(df, "source", "doc_id", n = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again == out.collect().map(r => (r.getString(0), r.getLong(1))).toSet,
      "re-runs produce the identical sample")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "bounded-collect heap, not a per-group window sort")
  }

  test("samplePerGroupRows: identical selection to samplePerGroup, payload intact, no join") {
    val df = (0 until 500).map(i => (i.toLong, s"src${i % 3}", i * 7L, s"t$i"))
      .toDF("doc_id", "source", "weight", "tag")
    val keys = Sharding.samplePerGroup(df, "source", "doc_id", n = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val rows = Sharding.samplePerGroupRows(df, "source", "doc_id", n = 10,
      payload = Seq("weight", "tag"))
    val got = rows.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // trailing payload fields never influence which keys survive
    assert(got.map(r => (r._1, r._2)).toSet == keys)
    // payload columns carry the ORIGINAL row's values through the heap
    assert(got.forall { case (_, id, w, t) => w == id * 7L && t == s"t$id" })
    val plan = rows.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"),
      "payload rides the heap entry — no join-back, no window")
  }

  test("semanticContamination: exact eval copy flags, orthogonal doesn't, max wins") {
    val corpus = Seq(
      (100L, Seq(1f, 0f, 0f, 0f)),  // identical to eval vec → 1.0
      (101L, Seq(0f, 0f, 0f, 1f)),  // orthogonal to both eval vecs → 0.0
      (102L, Seq(1f, 1f, 0f, 0f))). // 45° to one eval vec → ~0.7071
      toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val evals = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = Similarity.semanticContamination(corpus, "vec_id", "embedding", evals, 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(out(100L) == ((1.0, true)), "exact copy of an eval vector")
    assert(out(101L) == ((0.0, false)), "orthogonal to the whole eval set")
    assert(out(102L) == ((0.7071, true)), "max over eval vectors, not first")
  }

  test("semanticContamination: full-corpus annotation — null embeddings and empty eval set") {
    val corpus = Seq(
      (100L, Some(Seq(1f, 0f, 0f, 0f))),
      (101L, Option.empty[Seq[Float]])) // malformed row: cosine null vs every eval vec
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val evals = Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = Similarity.semanticContamination(corpus, "vec_id", "embedding", evals, 0.5)
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)), r.getBoolean(2)))).toMap
    assert(out.keySet == Set(100L, 101L), "every corpus id gets a row")
    assert(out(101L) == ((None, false)), "no-evidence row: null sim, NOT flagged, NOT dropped")
    // empty eval set: nothing can be contaminated, but nothing disappears
    val none = Similarity.semanticContamination(
      corpus, "vec_id", "embedding", evals.filter(col("vec_id") < 0), 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(none == Map(100L -> false, 101L -> false))
  }

  test("bm25TopK: rarer terms weigh more, more hits rank higher, no-hit docs drop") {
    // 'rare' appears in one doc, 'common' in all four; equal lengths
    val docs = Seq(
      (1L, "rare f1 f2 f3 common"),
      (2L, "common f1 f2 f3 f4"),
      (3L, "common common f1 f2 f3"),
      (4L, "f1 f2 f3 f4 common")).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, "doc_id", "text", Seq("rare", "common"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(out.map(_._1).head == 1L, "the only rare-term doc must rank first")
    val scores = out.toMap
    assert(scores(3L) > scores(2L), "two common hits beat one at equal length")
    assert(out.length == 4 && out.map(_._2).forall(_ > 0))
    val none = TextOps.bm25TopK(docs, "doc_id", "text", Seq("absent"), k = 10).count()
    assert(none == 0, "a term hitting nothing returns no rows (score 0 filtered)")
  }

  test("exactRunCoverage + exactRunDedupText match a brute-force model on random corpora") {
    val n = 4
    val rnd = new scala.util.Random(123)
    // tiny vocab → heavy accidental overlap, the adversarial regime
    val docs = (0 until 60).map { i =>
      val len = 4 + rnd.nextInt(20)
      (i.toLong, (0 until len).map(_ => s"w${rnd.nextInt(8)}").mkString(" "))
    }
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    // brute force: position p of doc d is covered iff one of the n-grams
    // through p occurs in ANOTHER doc; removal additionally requires an
    // occurrence in an EARLIER doc
    def grams(ws: Seq[String]) = ws.sliding(n).map(_.mkString(" ")).toVector
    val gramDocs = toks.toSeq.flatMap { case (id, ws) =>
      if (ws.length >= n) grams(ws).map(_ -> id) else Nil
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def spans(id: Long, pred: Set[Long] => Boolean): Set[Int] = {
      val ws = toks(id)
      (0 to ws.length - n).flatMap { s =>
        val g = ws.slice(s, s + n).mkString(" ")
        if (pred(gramDocs(g))) (s until s + n) else Nil
      }.toSet
    }
    val df = docs.toDF("doc_id", "text")
    val cov = TextOps.exactRunCoverage(df, "doc_id", "text", n)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    val ded = TextOps.exactRunDedupText(df, "doc_id", "text", n)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    for ((id, ws) <- toks if ws.length >= n) {
      val covered = spans(id, ds => (ds - id).nonEmpty)
      assert(cov(id)._1 == covered.size.toLong, s"doc $id covered_tokens")
      val maxRun = if (covered.isEmpty) 0
        else covered.toSeq.sorted.foldLeft((0, -2, 0)) { case ((best, prev, cur), p) =>
          val c = if (p == prev + 1) cur + 1 else 1
          (math.max(best, c), p, c)
        }._1
      assert(cov(id)._2 == maxRun.toLong, s"doc $id max_run")
      val removed = spans(id, ds => ds.exists(_ < id))
      val expectClean = ws.zipWithIndex.collect { case (w, p) if !removed(p) => w }.mkString(" ")
      assert(ded(id) == expectClean, s"doc $id clean_text")
    }
  }

  test("normalize: NFC + case fold + whitespace collapse + HTML strip; dedup sees through it") {
    val composed = "Café au lait"            // é as U+00E9
    val decomposed = "Café au lait"         // e + combining U+0301
    val docs = Seq(
      (1L, composed),
      (2L, "  " + decomposed.toUpperCase + "\t\n"), // case + whitespace noise
      (3L, "<p>Café   au <b>lait</b></p>"),    // markup + run of spaces
      (4L, "something else")).toDF("doc_id", "text")
    val norm = docs.select(col("doc_id"),
      TextOps.normalize(col("text"), stripHtml = true).as("text"))
    val vals = norm.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(vals(1L) == "café au lait")
    assert(vals(2L) == "café au lait", "decomposed+upper+padding folds to the same form")
    assert(vals(3L) == "café au lait", "tags stripped, runs collapsed")
    assert(vals(4L) == "something else")
    // the motivating property: composed vs decomposed now EXACT-dedup
    val groups = Dedup.exact(norm, "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(groups.exists { case (_, keeper, size) => keeper == 1L && size == 3L },
      "all three Café spellings share one content hash with keep-first id 1")
  }

  test("htmlExtract: script/style contents drop, paragraphs survive, entities decode in safe order") {
    val cases = Seq(
      // the contamination a tag strip leaks: script BODY must vanish,
      // including comparison operators that look like tags
      (1L, "<p>keep</p><script>if (a < b) { drop(); }</script><p>also</p>",
        "keep\nalso"),
      (2L, "<style>p > a { color: red }</style>before<br>after", "before\nafter"),
      // comments drop; inline tags become spaces, not newlines
      (3L, "one<!-- no --> two <b>three</b> four", "one two three four"),
      // entity order: &amp;lt; is an ESCAPED &lt; and must decode to
      // the four chars '&lt;', never double-decode to '<'
      (4L, "A &amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end &amp;lt;",
        "A & B <tag> \"q\" 's' end &lt;"),
      // block structure: paragraph boundaries become single newlines
      // whatever the spacing around them
      (5L, "<p>p1</p>  <p>p2</p><br>   <br>p3", "p1\np2\np3"),
      (6L, "", ""))
    val out = cases.map { case (id, html, _) => (id, html) }.toDF("doc_id", "html")
      .select(col("doc_id"), TextOps.htmlExtract(col("html")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (id, _, expect) =>
      assert(out(id) == expect, s"case $id: got '${out(id)}'")
    }
    // paragraphs survive for paragraph-level dedup downstream
    assert(out(5L).split("\n").toSeq == Seq("p1", "p2", "p3"))
  }

  test("duplicateClusters path selection: driver union-find iff long ids within the limit") {
    assert(Dedup.clustersPathName(isLongIds = true, nEdges = 4_000_000L,
      driverEdgeLimit = 4_000_000L) == "driver-union-find")
    assert(Dedup.clustersPathName(isLongIds = true, nEdges = 4_000_001L,
      driverEdgeLimit = 4_000_000L) == "distributed-pointer-doubling")
    assert(Dedup.clustersPathName(isLongIds = false, nEdges = 10L,
      driverEdgeLimit = 4_000_000L) == "distributed-pointer-doubling",
      "string ids can't use the long-keyed union-find regardless of size")
  }

  test("paragraphDedup: keep-first across docs AND within a doc, ordered reassembly") {
    val docs = Seq(
      (1L, "alpha one\n\nshared para\n\nbeta two"),
      (2L, "shared para\n\ngamma three\n\nshared para"), // cross-doc dup + own repeat
      (3L, "delta four"),
      (4L, "shared para")). // becomes empty after dedup
      toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 3L, "alpha one\n\nshared para\n\nbeta two")),
      "doc 1 owns the first occurrence and keeps everything")
    assert(out(2L) == ((3L, 1L, "gamma three")),
      "both copies in doc 2 lose to doc 1's earlier occurrence")
    assert(out(3L) == ((1L, 1L, "delta four")))
    assert(out(4L) == ((1L, 0L, "")), "a fully-duplicate doc empties, row preserved")
  }

  test("hybridRetrievalTopK: cosine reranks; missing embeddings keep lexical standing nulls-last") {
    val docs = Seq(
      (1L, "alpha query term here query"),
      (2L, "query term something else"),
      (3L, "query unrelated words"),
      (4L, "no relevant words at all zz")). // score 0 → not a candidate
      toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), // the query vector
      (1L, Array(0.0f, 1.0f)), // orthogonal → cos 0.0
      (2L, Array(1.0f, 0.0f))) // aligned → cos 1.0; doc 3 has NO embedding
      .toDF("vec_id", "embedding")
    val out = TextOps.hybridRetrievalTopK(docs, "doc_id", "text",
      terms = Seq("query", "term"), emb, "vec_id", "embedding",
      query = emb.filter(col("vec_id") === 0), kCand = 10, k = 10)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(out.toSeq == Seq(
      2L -> Some(1.0), 1L -> Some(0.0), 3L -> None),
      "aligned doc first, orthogonal second, embedding-less doc kept LAST — not dropped")
    val multi = TextOps.hybridRetrievalTopK(docs, "doc_id", "text",
      terms = Seq("query", "term"), emb, "vec_id", "embedding",
      query = emb, kCand = 10, k = 10) // 3-row query frame: contract is ONE vector
      .collect().map(_.getLong(0)).toSeq
    assert(multi.distinct == multi, "multi-row query frame must not duplicate candidates")
  }

  test("urlDomainProfile/urlBlocklistGate: extraction, suffix blocklist, distinct-doc counts") {
    val docs = Seq(
      (1L, "see https://Ads.Tracker.net/x?q=1 then http://a.example.com/p1 and http://a.example.com/p2"),
      (2L, "plain http://tracker.net/root here"),
      (3L, "http://b.example.com only"),
      (4L, "no urls at all"),
      (5L, "http://nottracker.net/x")).toDF("doc_id", "text")
    val prof = TextOps.urlDomainProfile(docs, "doc_id", "text", Seq("tracker.net"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(prof("a.example.com") == ((2L, 1L, false)), "two urls but ONE distinct doc")
    assert(prof("ads.tracker.net") == ((1L, 1L, true)), "case-folded host; subdomain blocked via suffix")
    assert(prof("tracker.net") == ((1L, 1L, true)), "exact blocklist entry blocked")
    assert(!prof("nottracker.net")._3, "suffix match requires a dot boundary — nottracker.net is NOT blocked")
    assert(!prof.contains("no"), "plain words never parse as domains")
    val gate = TextOps.urlBlocklistGate(docs, "doc_id", "text", Seq("tracker.net"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(gate(1L) == ((3L, true)) && gate(2L) == ((1L, true)), "any blocked domain taints the doc")
    assert(gate(4L) == ((0L, false)), "url-free doc passes with zero count")
    assert(gate(5L) == ((1L, false)), "near-miss domain passes")
  }

  test("classifierScore: exact permille accumulation, zero-hit and empty docs, keep gate") {
    val docs = Seq(
      (1L, "good good bad"),        // (2*500 - 300) / (3*1000) = 700/3000
      (2L, "bad bad bad bad"),      // -1200 / 4000 = -0.3 exactly
      (3L, "nothing matches here"), // 0 hits → score 0.0, keep false at 0.1
      (4L, "")).                    // empty → NULL score, keep false
      toDF("doc_id", "text")
    val out = TextOps.classifierScore(docs, "doc_id", "text",
      weightsPermille = Map("good" -> 500L, "bad" -> -300L), threshold = 0.1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getBoolean(5)))).toMap
    assert(out(1L) == ((3L, 3L, 700L, Some(700.0 / 3000.0), true)),
      "mixed doc: exact numerator + the one correctly-rounded division, kept")
    assert(out(2L) == ((4L, 4L, -1200L, Some(-0.3), false)), "negative-weight doc rejected")
    assert(out(3L) == ((3L, 0L, 0L, Some(0.0), false)), "zero-hit doc scores 0.0 — present, not dropped")
    assert(out(4L) == ((0L, 0L, 0L, None, false)), "empty doc: NULL score, keep=false, row preserved")
  }

  test("repetitionSignals: top-gram char mass, duplicated-gram char mass, short-doc zeros") {
    val docs = Seq(
      (1L, "a b a b a b"),             // 2-grams: "a b"×3 (9 chars), "b a"×2; no dup 5-grams
      (2L, "x y x y x y x y x y x y"), // dup 5-grams: both alternants ×4 → 72 chars > n_chars
      (3L, "z"),                       // no 2-grams at all
      (4L, "")).                       // empty → NULL fractions
      toDF("doc_id", "text")
    val out = TextOps.repetitionSignals(docs, "doc_id", "text", topN = 2, dupN = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out(1L) == ((11L, Some(9.0 / 11.0), Some(0.0))),
      "heaviest 2-gram = 'a b' x3 x 3 chars; 5-grams all unique")
    assert(out(2L) == ((23L, Some(18.0 / 23.0), Some(72.0 / 23.0))),
      "overlapping dup occurrences multi-count: the published formulation may exceed 1.0")
    assert(out(3L) == ((1L, Some(0.0), Some(0.0))), "sub-n doc scores 0.0, row preserved")
    assert(out(4L) == ((0L, None, None)), "empty doc: NULL fractions")
  }

  test("round-7 operators: plan shapes hold (broadcasts, no rank windows, no Expand)") {
    val docs = (1L to 40L).map(i => (i, s"query term doc nr $i plus words here"))
      .toDF("doc_id", "text")
    val emb = (0L to 40L).map(i => (i, Array(i.toFloat, 1f))).toDF("vec_id", "embedding")

    val hybPlan = TextOps.hybridRetrievalTopK(docs, "doc_id", "text", Seq("query", "term"),
        emb, "vec_id", "embedding", emb.filter(col("vec_id") === 0), kCand = 5, k = 3)
      .queryExecution.executedPlan.toString
    assert(hybPlan.contains("BroadcastHashJoin"), "candidates broadcast into the embedding pass")
    assert(!hybPlan.contains("SortMergeJoin"), "the embedding table is never shuffle-joined")

    val cents = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val clPlan = Similarity.clusterBalancedSample(emb, "vec_id", "embedding", cents, "vec_id", 3)
      .queryExecution.executedPlan.toString
    assert(!clPlan.contains("Window") && !clPlan.contains("Cartesian"),
      "centroid argmax is a per-row expression + bounded-collect heap, never a window or cross join")

    val uPlan = TextOps.urlDomainProfile(docs, "doc_id", "text", Seq("x.com"))
      .queryExecution.executedPlan.toString
    assert(!uPlan.contains("Expand"), "(domain, doc) dedup + plain count — no count-distinct Expand")

    val dqPlan = TextOps.domainQuality(docs, "doc_id", "text", Map("query" -> 10L), 0.0)
      .queryExecution.executedPlan.toString
    assert(!dqPlan.contains("Expand") && dqPlan.contains("BroadcastHashJoin"),
      "classifier vocab broadcasts; domain aggregation stays Expand-free")

    val scored = docs.select(col("doc_id"), lit("en").as("lang"),
      (col("doc_id") % 7).cast("double").as("score"))
    val tfPlan = Sharding.keepTopFraction(scored, "lang", "score", 0.5)
      .queryExecution.executedPlan.toString
    assert(tfPlan.contains("BroadcastHashJoin") && !tfPlan.contains("Window"),
      "percentile THRESHOLD broadcast back — not a per-group rank window")
  }

  test("overtime operators: plan shapes hold (no cartesian pairs, no Expand, vocab broadcasts)") {
    val docs = (1L to 40L).map(i => (i, s"alpha beta g$i delta words here plus"))
      .toDF("doc_id", "text")

    val shPlan = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 2)
      .queryExecution.executedPlan.toString
    assert(!shPlan.contains("Cartesian"),
      "candidates come from the block equi-join, never an all-pairs product")

    val spPlan = TextOps.surprisalScore(docs, "doc_id", "text", 0.0, 99.0)
      .queryExecution.executedPlan.toString
    assert(spPlan.contains("BroadcastHashJoin"),
      "the one-row totals frame (and at this size the vocab) broadcasts")
    assert(!spPlan.contains("Expand"), "plain partial-agg sums, no count-distinct")

    val vgPlan = TextOps.vocabGrowth(docs, "doc_id", "text", 5)
      .queryExecution.executedPlan.toString
    assert(!vgPlan.contains("Expand"), "first-occurrence min() is a plain partial agg")

    val clusters = Seq((2L, 1L)).toDF("doc", "cluster")
    val lsPlan = Sharding.splitLeakageSafe(docs, "doc_id", clusters)
      .queryExecution.executedPlan.toString
    assert(!lsPlan.contains("Window") && !lsPlan.contains("Cartesian"),
      "cluster-key split is one join + a projection")
  }

  test("fillTokenBudget fuzz: operator equals a brute-force group-atomic reference on random inputs") {
    val rng = new scala.util.Random(31)
    val rows = (1L to 120L).map { i =>
      (i, s"s${rng.nextInt(4)}", rng.nextInt(5).toLong, 1L + rng.nextInt(40)) }
    val budgets = Map("s0" -> 120L, "s1" -> 60L, "s2" -> 0L)
    val default = 45L
    // cumulative-PREFIX rule, not greedy-skip: the first overflowing
    // group rejects itself and everything below it (the cumsum only
    // grows, so no later group can re-qualify) — this is what keeps the
    // operator a pure aggregate + filter with no per-group state
    def reference: Set[Long] = {
      rows.groupBy(_._2).flatMap { case (src, rs) =>
        val budget = budgets.getOrElse(src, default)
        val byScore = rs.groupBy(_._3).toSeq.sortBy(-_._1)
        val cums = byScore.scanLeft(0L) { case (acc, (_, grp)) => acc + grp.map(_._4).sum }.drop(1)
        byScore.zip(cums).takeWhile(_._2 <= budget).flatMap(_._1._2.map(_._1))
      }.toSet
    }
    val kept = Sharding.fillTokenBudget(
        rows.toDF("doc_id", "source", "score", "n_tokens"),
        "source", "score", "n_tokens", budgets, default)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == reference, s"diff: op-only=${kept -- reference} ref-only=${reference -- kept}")
  }

  test("tfIdfTerms fuzz: operator equals a brute-force tf-idf-bits reference") {
    val rng = new scala.util.Random(41)
    val docs = (1L to 30L).map { i =>
      (i, (1 to 1 + rng.nextInt(20)).map(_ => s"w${rng.nextInt(12)}").mkString(" ")) }
    val byDoc = docs.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty) }.toMap
    val dfreq = byDoc.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nDocs = docs.length.toLong
    def bits(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val k = 3
    def reference(id: Long): Seq[(String, Long, Int)] = {
      val ws = byDoc(id)
      val tf = ws.groupBy(identity).view.mapValues(_.size.toLong).toMap
      tf.toSeq.map { case (w, f) => (w, f * bits(nDocs / dfreq(w))) }
        .filter(_._2 > 0)
        .sortBy { case (w, s) => (-s, w) }.take(k)
        .zipWithIndex.map { case ((w, s), r) => (w, s, r + 1) }
    }
    val out = TextOps.tfIdfTerms(docs.toDF("doc_id", "text"), "doc_id", "text", k)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3, t._4)).toSeq).toMap
    docs.foreach { case (id, _) =>
      assert(out.getOrElse(id, Seq.empty) == reference(id), s"doc $id diverged")
    }
  }

  test("selfRepDedupText fuzz: operator equals a brute-force span-union reference on random docs") {
    val rng = new scala.util.Random(11)
    val n = 3
    val docs = (1L to 50L).map { i =>
      val len = 1 + rng.nextInt(40)
      (i, (1 to len).map(_ => s"w${rng.nextInt(6)}").mkString(" ")) // tiny vocab → many repeats
    }
    def reference(text: String): (Long, Long, String) = {
      val ws = text.split(" ").filter(_.nonEmpty)
      if (ws.length < n) return (ws.length.toLong, ws.length.toLong, ws.mkString(" "))
      val grams = ws.sliding(n).map(_.mkString(" ")).toArray
      val first = scala.collection.mutable.Map.empty[String, Int]
      val cut = scala.collection.mutable.Set.empty[Int] // 0-based token idx
      grams.zipWithIndex.foreach { case (g, p) =>
        first.get(g) match {
          case Some(fp) if fp < p => (p until p + n).foreach(cut += _)
          case None => first(g) = p
          case _ => ()
        }
      }
      val kept = ws.indices.filterNot(cut).map(ws)
      (ws.length.toLong, kept.length.toLong, kept.mkString(" "))
    }
    val out = TextOps.selfRepDedupText(docs.toDF("doc_id", "text"), "doc_id", "text", n)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    docs.foreach { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      if (ws.length >= n) // operator emits rows only for shingle-bearing docs
        assert(out(id) == reference(text), s"doc $id diverged from brute force: '$text'")
    }
  }

  test("bigramSurprisal fuzz: operator equals a brute-force integer-bit reference on random docs") {
    val rng = new scala.util.Random(23)
    val docs = (1L to 40L).map { i =>
      val len = rng.nextInt(30)
      (i, (1 to len).map(_ => s"t${rng.nextInt(8)}").mkString(" "))
    }
    // brute-force corpus LM + per-doc mean bits
    val allBi = docs.flatMap { case (_, t) =>
      val ws = t.split(" ").filter(_.nonEmpty); ws.dropRight(1).zip(ws.drop(1))
    }
    val big = allBi.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ctx = allBi.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def bits(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val out = TextOps.bigramSurprisal(docs.toDF("doc_id", "text"), "doc_id", "text", 0.0, 99.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    docs.foreach { case (id, t) =>
      val ws = t.split(" ").filter(_.nonEmpty)
      val trans = ws.dropRight(1).zip(ws.drop(1))
      val raw = trans.map(b => bits(ctx(b._1) / big(b))).sum
      val expected =
        if (trans.isEmpty) (0L, 0L, None)
        else (trans.length.toLong, raw, Some(raw.toDouble / trans.length))
      assert(out(id) == expected, s"doc $id diverged: '$t'")
    }
  }

  test("contaminationCutText: only benchmark-covered spans cut, clean docs byte-identical") {
    val bench = Seq((0L, "secret eval answer key here")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "intro words then secret eval answer key here and useful tail content"),
      (11L, "completely clean document with no benchmark overlap at all today")
    ).toDF("doc_id", "text")
    val out = TextOps.contaminationCutText(docs, "doc_id", "text", bench, "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val (n10, k10, t10) = out(10L)
    assert(n10 == 12 && !t10.contains("secret") && !t10.contains("answer"),
      s"the quoted benchmark span must be excised (got '$t10')")
    assert(t10.startsWith("intro words") && t10.endsWith("tail content"),
      s"surrounding useful content survives (got '$t10')")
    assert(k10 < n10)
    assert(out(11L) == ((10L, 10L, "completely clean document with no benchmark overlap at all today")),
      "a clean doc passes through byte-identical")
  }

  test("selfRepDedupText: generation loop cut keep-first, overlap collapse, clean doc untouched") {
    val docs = Seq(
      (1L, "say this again say this again say this again done"), // loop ×3
      (2L, "a a a a a"),                                          // degenerate token loop
      (3L, "all distinct words here nothing repeats at any point") // untouched
    ).toDF("doc_id", "text")
    val out = TextOps.selfRepDedupText(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1: grams repeat from pos 4 on ("say this again" at 1, 4, 7; plus
    // the wrap grams) — everything from token 4 to the last covered token
    // is cut; "done" survives only if no repeated gram covers it
    val (n1, k1, t1) = out(1L)
    assert(n1 == 10 && t1.startsWith("say this again"), s"first occurrence survives (got '$t1')")
    assert(k1 < n1, "later loop iterations must be cut")
    assert(!t1.matches(".*say this again.*say this again.*"), "no second loop copy survives")
    // span-union semantics: later-occurrence spans [2..4] and [3..5] are
    // cut wholesale, consuming the overlap with the first occurrence —
    // only token 1 survives (same contract as the cross-doc cut)
    val (n2, k2, t2) = out(2L)
    assert(n2 == 5 && k2 == 1 && t2 == "a",
      "overlapping self-repeat spans cut wholesale, first token survives")
    assert(out(3L) == ((9L, 9L, "all distinct words here nothing repeats at any point")),
      "a repetition-free doc passes through byte-identical")
  }

  test("code-mixing composition: windowed langid exposes a bilingual doc a whole-doc label averages away") {
    val de = "der schnelle braune fuchs springt über den faulen hund und die katze schläft"
    val en = "the quick brown fox jumps over the lazy dog and the cat sleeps here"
    // 3 windows of German then 3 of English (32-token windows, overlap 0)
    val bilingual = (Seq.fill(8)(de) ++ Seq.fill(8)(en)).mkString(" ")
    val mono = Seq.fill(16)(en).mkString(" ")
    val docs = Seq((1L, bilingual), (2L, mono)).toDF("doc_id", "text")
    val perChunk = TextOps.chunkTokens(docs, "doc_id", "text", chunkSize = 32, overlap = 0)
      .select(col("doc"), TextOps.langIdMulti(col("chunk_text")).getField("lang_pred").as("lp"))
    val langs = perChunk.groupBy("doc")
      .agg(collect_set(col("lp")).as("ls"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(langs(1L).size > 1 && langs(1L).contains("de") && langs(1L).contains("en"),
      s"bilingual doc must show both languages at window level (got ${langs(1L)})")
    assert(langs(2L) == Set("en"), s"monolingual doc stays one label (got ${langs(2L)})")
  }

  test("winnowPairs: containment catches subset docs, boilerplate df-threshold suppresses pairs") {
    val core = "theQuickBrownFoxJumpsOverTheLazyDog0123456789"
    val docs = Seq(
      (1L, core),                                    // wholly contained in doc 2
      (2L, core + "andThenSomeEntirelyDifferentTailMaterialHere"),
      (3L, "zzzCompletelyUnrelatedContentWithNoOverlapAtAllxxx")
    ).toDF("doc_id", "text")
    val out = Dedup.winnowPairs(docs, "doc_id", "text", maxDf = 10L, minShared = 2L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(out.contains((1L, 2L)), "shared char runs must pair")
    assert(out((1L, 2L))._2 == 1.0,
      "doc 1 is a prefix of doc 2: every discriminative fingerprint of 1 is in 2 → containment 1.0")
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L }, "no-overlap doc never pairs")

    // boilerplate: the same substring in 12 docs exceeds maxDf 10 — its
    // fingerprints are non-discriminative and generate NO pairs
    val boiler = (1L to 12L).map(i => (i, core + s"uniquePerDocSuffixNumber${i}xyzpqr"))
      .toDF("doc_id", "text")
    val bp = Dedup.winnowPairs(boiler, "doc_id", "text", maxDf = 10L, minShared = 2L).count()
    assert(bp == 0, s"boilerplate-only overlap above maxDf must not pair (got $bp pairs)")
  }

  test("bigramSurprisal: hand-computed transition bits, sub-2-token docs NULL, band gates") {
    // corpus bigram counts: (a,b)=3, (b,a)=3, (b,b)=1; ctx(a)=3, ctx(b)=4
    // bits(a→b)=bitlen(3 div 3)-1=0; bits(b→a)=bitlen(4 div 3)-1=0;
    // bits(b→b)=bitlen(4 div 1)-1=2
    val docs = Seq(
      (1L, "a b a b a"), // 4 transitions, raw 0, mean 0.0 → reject
      (2L, "a b b a"),   // 3 transitions, raw 2, mean 2/3 → keep in [0.5, 1.0]
      (3L, "x")          // no transitions: NULL mean, keep false
    ).toDF("doc_id", "text")
    val out = TextOps.bigramSurprisal(docs, "doc_id", "text", minBits = 0.5, maxBits = 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))).toMap
    assert(out(1L) == ((4L, 0L, Some(0.0), false)))
    assert(out(2L) == ((3L, 2L, Some(2.0 / 3.0), true)))
    assert(out(3L) == ((0L, 0L, None, false)))
  }

  test("compressionSignal: repetitive text compresses, random soup doesn't, band gates, empty NULL") {
    val rng = new scala.util.Random(7)
    val soup = Array.fill(400)((33 + rng.nextInt(94)).toChar).mkString
    val prose = Seq(
      "the cat sat on the mat and watched the quiet garden path below",
      "a light rain had started and the stones along the path darkened",
      "somewhere beyond the hedge a door closed and footsteps faded out",
      "the cat stretched once then settled back to watch the rain fall",
      "nothing else moved except the slow drip from the iron gate hinge",
      "and the garden kept its small sounds to itself until the evening"
    ).mkString(" ")
    val docs = Seq(
      (1L, prose),                     // natural redundancy, ~390 bytes
      (2L, "spam spam spam " * 40),   // extreme repetition
      (3L, soup),                      // near-incompressible
      (4L, "")                         // empty
    ).toDF("doc_id", "text")
    val out = TextOps.compressionSignal(docs, "doc_id", "text", minRatio = 0.25, maxRatio = 0.9)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))).toMap
    val (n1, Some(r1), k1) = out(1L)
    assert(n1 == prose.length.toLong && r1 > 0.25 && r1 < 0.9 && k1,
      s"prose sits in the band (got $r1)")
    val (_, Some(r2), k2) = out(2L)
    assert(r2 < 0.1 && !k2, s"40x-repeated phrase compresses far below the band (got $r2)")
    val (_, Some(r3), k3) = out(3L)
    assert(r3 > 0.9 && !k3, s"random soup must not compress into the band (got $r3)")
    assert(out(4L) == ((0L, None, false)), "empty doc: NULL ratio, keep false")
    // determinism: same input, same plan, same ratio
    val again = TextOps.compressionSignal(docs, "doc_id", "text", 0.25, 0.9)
      .filter(col("doc") === 3L).collect()(0).getDouble(3)
    assert(again == r3)
  }

  test("tfIdfTerms: integer-bit idf, ubiquitous terms dropped, tf multiplies, ties lexicographic") {
    // 4 docs; unigram mode for hand-computable idf: floor(log2(4 div df))
    val docs = Seq(
      (1L, "rare common half half stop"), // rare: df1 idf2; half: df2 idf1 tf2; stop: df4 idf0
      (2L, "half stop stop"),
      (3L, "stop aaa bbb"),               // aaa/bbb both df1 idf2 tf1: tie → lexicographic
      (4L, "stop")                        // only idf-0 terms: no output rows
    ).toDF("doc_id", "text")
    val out = TextOps.tfIdfTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => ((r.getLong(0), r.getInt(3)), (r.getString(1), r.getLong(2)))).toMap
    assert(out((1L, 1)) == (("common", 2L)),
      "common/half/rare all score 2 (df1·tf1·idf2, df2·tf2·idf1, df1·tf1·idf2); tie → lexicographic")
    assert(out((1L, 2)) == (("half", 2L)))
    assert(out((2L, 1)) == (("half", 1L)), "stop (df 4, idf 0) never ranks")
    assert(out((3L, 1)) == (("aaa", 2L)) && out((3L, 2)) == (("bbb", 2L)), "score tie → lexicographic")
    assert(!out.keySet.exists(_._1 == 4L), "a doc of only idf-0 terms produces no rows")
  }

  test("fillTokenBudget: score-group-atomic admission, per-source budgets, overflow group rejected whole") {
    val docs = Seq(
      // source A, budget 100: score 3 group (40) fits, score 2 group (60)
      // fits exactly at the boundary, score 1 group would overflow
      (1L, "A", 3L, 40L),
      (2L, "A", 2L, 30L), (3L, "A", 2L, 30L),
      (4L, "A", 1L, 10L),   // cum 110 > 100: whole group rejected (atomic)
      // source B on the default budget 50: only its best group fits
      (5L, "B", 9L, 50L),
      (6L, "B", 8L, 1L)
    ).toDF("doc_id", "source", "score", "n_tokens")
    val kept = Sharding.fillTokenBudget(docs, "source", "score", "n_tokens",
        budgets = Map("A" -> 100L), defaultBudget = 50L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 5L),
      "boundary group admitted when it fits exactly; overflow group rejected whole; default budget applies")
    // the cumsum window must run over the aggregate, not corpus rows:
    // admitted frame is (source, score) pairs, broadcast back
    val plan = Sharding.fillTokenBudget(docs, "source", "score", "n_tokens", Map("A" -> 100L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "admitted pairs broadcast back as a map-side filter")
  }

  test("matryoshkaTopK: prefix coarse-rank can lie, full-dim re-rank corrects inside the shortlist") {
    // prefix = first 2 dims. id 1 looks PERFECT in the prefix but its
    // tail points away; id 2 has a slightly worse prefix and a perfect
    // tail. Full-dim re-rank must flip them. id 3's prefix is bad enough
    // to miss a kCand=2 shortlist even though its full cosine beats id 1.
    val q = Seq((0L, Array(1f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1f, 0f, -1f, 0f)),     // cos_prefix 1.0, cos_full 0.0
      (2L, Array(0.9f, 0.1f, 1f, 0f)),  // cos_prefix ~0.995, cos_full ~0.95
      (3L, Array(0.1f, 0.9f, 1f, 0f))   // cos_prefix ~0.11 — misses the shortlist
    ).toDF("vec_id", "embedding")
    val out = Similarity.matryoshkaTopK(corpus, "vec_id", "embedding", q,
        prefixDims = 2, kCand = 2, k = 2)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getInt(3)))
    assert(out.toSeq == Seq((2L, 1), (1L, 2)),
      "full-dim cosine must reorder the prefix shortlist; id 3 stays shortlisted out")
  }

  test("keepBestInCluster: highest score survives per cluster, ties to min id, singletons kept") {
    val docs = Seq(
      (1L, "a", 5L),  // cluster {1,2,3}: doc 2 has the best score
      (2L, "b", 9L),
      (3L, "c", 9L),  // ties doc 2 on score; larger id loses
      (4L, "d", 1L),  // singleton (not in any pair): always kept
      (5L, "e", 0L),  // cluster {5,6}: doc 6 wins
      (6L, "f", 2L)
    ).toDF("doc_id", "text", "score")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc", "cluster")
    val kept = Dedup.keepBestInCluster(docs, "doc_id", "score", clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 6L))
    // plan shape: argmax is a partial-agg struct-min, never a rank window
    val plan = Dedup.keepBestInCluster(docs, "doc_id", "score", clusters)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "per-cluster argmax must not be a rank window")
  }

  test("chunk-level LSH: a copied 32-token span pairs at chunk granularity with jaccard 1.0") {
    // docs 1 and 2 share ONLY their first 32 tokens (one "paragraph");
    // the remaining 64 tokens are disjoint, so at doc level the copied
    // span is a small minority of shingles — the sub-document shape.
    val para = (1 to 32).map(i => s"shared$i").mkString(" ")
    val restA = (1 to 64).map(i => s"alpha$i").mkString(" ")
    val restB = (1 to 64).map(i => s"beta$i").mkString(" ")
    val docs = Seq((1L, s"$para $restA"), (2L, s"$para $restB")).toDF("doc_id", "text")
    val chunks = TextOps.chunkTokens(docs, "doc_id", "text", chunkSize = 32, overlap = 8)
      .filter(col("n_tokens") >= 3)
      .select((col("doc") * 1000 + col("chunk_idx")).as("chunk_id"),
        col("chunk_text").as("text"))
    val pairs = Dedup.lshCandidatePairs(chunks, "chunk_id", "text",
        shingleN = 3, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // chunk 0 of doc 1 ≡ chunk 0 of doc 2: all bands collide, jaccard 1.0
    assert(pairs.exists { case (a, b, nb, j) => a == 1000L && b == 2000L && nb == 4L && j == 1.0 },
      s"expected the copied-span chunk pair (1000, 2000); got ${pairs.mkString(", ")}")
    // no cross-doc pair between the DISJOINT tails
    assert(!pairs.exists { case (a, b, _, _) => a == 1002L && b == 2002L },
      "disjoint tail chunks must not pair")
  }

  test("hardNegatives: band excludes positives/near-dups above and easy negatives below; rank dense") {
    val q = Seq((100L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1f, 0f)),      // cos 1.0  — positive/near-dup: above band, excluded
      (2L, Array(0.8f, 0.6f)),  // cos 0.8  — hard negative, rank 1
      (3L, Array(0.6f, 0.8f)),  // cos 0.6  — hard negative, rank 2
      (4L, Array(0f, 1f)),      // cos 0.0  — easy negative: below band, excluded
      (5L, Array(-1f, 0f))      // cos -1.0 — excluded
    ).toDF("vec_id", "embedding")
    val cents = Seq((1L, Array(1f, 1f))).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(q, corpus, "vec_id", "embedding",
        cents, "vec_id", k = 5, bandLo = 0.3, bandHi = 0.85, probes = 1)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.toSeq == Seq((2L, 0.8, 1), (3L, 0.6, 2)),
      "only in-band rows survive; rank is dense within the band, best first")
    // bandHi is inclusive: a row AT the boundary is kept
    val edge = Similarity.hardNegatives(q,
        Seq((9L, Array(0.85f, math.sqrt(1 - 0.85 * 0.85).toFloat))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents, "vec_id", k = 1, bandLo = 0.3, bandHi = 0.85, probes = 1)
      .collect()
    assert(edge.length == 1 && edge(0).getDouble(2) == 0.85)
  }

  test("chunkTokens: window walk, short tail, sub-size and empty docs, overlap sharing") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 toks, size 4 overlap 1, stride 3: ceil(9/3)=3 chunks
      (2L, "x y"),                 // sub-size: 1 chunk of 2
      (3L, " "),                   // zero tokens: no chunks
      (4L, "p q r s")              // exactly size: 1 chunk (ceil(3/3)=1)
    ).toDF("doc_id", "text")
    val out = TextOps.chunkTokens(docs, "doc_id", "text", chunkSize = 4, overlap = 1)
      .orderBy("doc", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 4L, "a b c d"),
      (1L, 1L, 3L, 4L, "d e f g"), // shares 'd' with chunk 0: overlap=1
      (1L, 2L, 6L, 4L, "g h i j"),
      (2L, 0L, 0L, 2L, "x y"),
      (4L, 0L, 0L, 4L, "p q r s")))
    // tail-window rule: 11 tokens, same geometry → ceil(10/3)=4, last chunk short
    val tail = TextOps.chunkTokens(Seq((1L, "a b c d e f g h i j k")).toDF("doc_id", "text"),
        "doc_id", "text", chunkSize = 4, overlap = 1)
      .orderBy("chunk_idx").collect().map(r => (r.getLong(2), r.getString(4)))
    assert(tail.toSeq == Seq((0L, "a b c d"), (3L, "d e f g"), (6L, "g h i j"), (9L, "j k")))
    // plan shape: chunking must ride the scan — no exchange anywhere
    val plan = TextOps.chunkTokens(docs, "doc_id", "text", 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "chunking is a pure per-row explode, zero shuffles")
  }

  test("round-9 operators: plan shapes hold (no cartesian, no rank windows, no Expand)") {
    val docs = (1L to 40L).map(i => (i, s"alpha beta g$i delta words here plus extra tail"))
      .toDF("doc_id", "text")

    val wpPlan = Dedup.winnowPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!wpPlan.contains("Cartesian"),
      "winnow pairs come from the fingerprint equi-join, never all-pairs")

    val tfPlan = TextOps.tfIdfTerms(docs, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    assert(!tfPlan.contains("Window"),
      "per-doc top-k is the bounded heap, not a rank window")

    val bsPlan = TextOps.bigramSurprisal(docs, "doc_id", "text", 0.0, 99.0)
      .queryExecution.executedPlan.toString
    assert(!bsPlan.contains("Expand") && !bsPlan.contains("Window"),
      "plain partial-agg sums; no count-distinct, no window")

    val srPlan = TextOps.selfRepDedupText(docs, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!srPlan.contains("Window") && !srPlan.contains("Cartesian"),
      "de-looping is (doc, gram) partial aggs + joins, no window")

    val csPlan = TextOps.compressionSignal(docs, "doc_id", "text", 0.25, 0.9)
      .queryExecution.executedPlan.toString
    assert(!csPlan.contains("Exchange"),
      "the deflate signal is a pure per-row projection, zero shuffles")
  }

  test("chunkTokens fuzz: zero-overlap chunks reassemble exactly; count formula holds for random geometry") {
    val rng = new scala.util.Random(42)
    val docs = (1L to 60L).map { i =>
      val n = rng.nextInt(120) // includes 0-token docs
      (i, (1 to n).map(j => s"t${rng.nextInt(50)}").mkString(" "))
    }.toDF("doc_id", "text")
    for (size <- Seq(1, 7, 32); overlap <- Seq(0, size / 2).distinct) {
      val stride = size - overlap
      val out = TextOps.chunkTokens(docs, "doc_id", "text", size, overlap)
        .orderBy("doc", "chunk_idx")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(4)))
        .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(_._3).toSeq }
      val toks = docs.collect().map(r =>
        r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq).toMap
      toks.foreach { case (id, ws) =>
        val chunks = out.getOrElse(id, Seq.empty)
        if (ws.isEmpty) assert(chunks.isEmpty, s"doc $id empty -> no chunks")
        else {
          val expected = math.max(1L,
            if (ws.length <= overlap) 1L else (ws.length - overlap + stride - 1L) / stride)
          assert(chunks.length.toLong == expected,
            s"doc $id n=${ws.length} size=$size overlap=$overlap: ${chunks.length} != $expected")
          if (overlap == 0)
            assert(chunks.mkString(" ") == ws.mkString(" "),
              s"zero-overlap chunks must reassemble doc $id exactly")
          else
            assert(chunks.head.split(" ").length == math.min(size, ws.length),
              s"first chunk is full-width (doc $id)")
        }
      }
    }
  }

  test("crossDupCoverage: join-back builds on the aggregated stats side, never the exploded side") {
    // Catalyst's static size estimate for a post-Generate frame is inherited
    // from the pre-explode scan, so without the explicit gate it chose
    // BuildLeft — broadcasting the (doc, gram) explode, 50× the stats side
    // on a high-reuse corpus. Pin the build side so the regression is loud.
    val docs = (1L to 40L).map(i => (i, s"shared prefix words here tail nr $i"))
      .toDF("doc_id", "text")
    val plan = TextOps.crossDupCoverage(docs, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("BuildLeft"),
      "stats (right) side broadcasts; the exploded gram frame must never be the build side")
  }

  test("domainQuality: exact corpus-weighted mean per domain flags blocklist candidates") {
    val docs = Seq(
      (1L, "bad bad see http://spam.site/x"),              // raw -600, 4 tokens
      (2L, "bad good stuff http://spam.site/y"),           // raw 200, 4 tokens
      (3L, "good good good via http://fine.org/a"),        // raw 1500, 5 tokens
      (4L, "good http://fine.org/b and http://fine.org/c") // raw 500, 4 tokens; fine.org counted ONCE
    ).toDF("doc_id", "text")
    val out = TextOps.domainQuality(docs, "doc_id", "text",
      weightsPermille = Map("good" -> 500L, "bad" -> -300L), minScore = 0.05)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out("spam.site") == ((2L, -400.0 / 8000.0, true)),
      "exact mean (-600+200)/((4+4)*1000) below cutoff -> blocklist candidate")
    assert(out("fine.org") == ((2L, 2000.0 / 9000.0, false)),
      "doc 4 counts once despite two fine.org urls; high mean passes")
  }

  test("keepTopFraction: per-group percentile gate keeps the top fraction via threshold, not rank") {
    val df = Seq(
      ("en", 1L, 0.1), ("en", 2L, 0.2), ("en", 3L, 0.3), ("en", 4L, 0.4),
      ("de", 9L, 0.9)).toDF("lang", "doc", "score")
    val thr = Sharding.topFractionThresholds(df, "lang", "score", frac = 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(thr("en") == 0.25 && thr("de") == 0.9,
      "linear interpolation between order statistics (quantile_cont semantics)")
    val kept = Sharding.keepTopFraction(df, "lang", "score", 0.5)
      .select("doc").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(3L, 4L, 9L),
      "top half of en kept; a single-row group survives its own threshold (score >= thr inclusive)")
    val keptApprox = Sharding.keepTopFraction(df, "lang", "score", 0.5, approx = true)
      .select("doc").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptApprox.nonEmpty, "approx path (the 100 TB form) runs and keeps rows")
  }

  test("clusterBalancedSample: per-cell budget, small cells never starved, deterministic") {
    val cents = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    // five vectors near centroid 1, ONE near centroid 2
    val vecs = Seq(
      (10L, Array(0.9f, 0.1f)), (11L, Array(0.8f, 0.2f)), (12L, Array(0.95f, 0.0f)),
      (13L, Array(0.7f, 0.3f)), (14L, Array(0.85f, 0.15f)),
      (20L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
    def run() = Similarity.clusterBalancedSample(vecs, "vec_id", "embedding",
      cents, "vec_id", perCell = 2).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val out = run()
    assert(out.count(_._1 == 1L) == 2, "hot cell cut to the per-cell budget")
    assert(out.filter(_._1 == 2L).map(_._2) == Seq(20L),
      "small cell keeps its one member — a global sample would starve it")
    assert(out.forall(p => Seq(10L, 11L, 12L, 13L, 14L).contains(p._2) || p == ((2L, 20L))),
      "sampled ids come from the assigned cell's members")
    assert(run() == out, "md5-order draw is deterministic")
  }

  test("gopherFilters: each rule trips on its own trigger, keep is the conjunction") {
    val good = (("the quick brown fox jumps over the lazy dog and that was fine to see " * 4) +
      "with more of those have been here").trim // >50 words, all rules pass
    val docs = Seq(
      (1L, good),
      (2L, "short doc with the and of that"), // < 50 words
      (3L, ("# ## ### " * 40 + "the of and that have with be to").trim), // symbol ratio > 0.1
      (4L, (Seq.fill(30)("- bullet item\n- another").mkString("\n") +
        "\nthe of and that have with " + "filler words galore ok " * 10).trim), // bullets > 0.9
      (5L, ("1 2 3 4 5 6 7 8 9 0 " * 6 + "the of and extra").trim), // alpha frac < 0.8
      (6L, ("zz yy xx ww vv uu tt ss rr qq " * 6).trim), // no stopwords
      (7L, "")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"), TextOps.gopherFilters(col("text")).as("q"))
      .select(col("doc_id"), col("q.keep"), col("q.pass_words"), col("q.pass_symbol"),
        col("q.pass_bullet"), col("q.pass_alpha"), col("q.pass_stop"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(out(1L) == ((true, true, true, true, true, true)), "clean doc keeps")
    assert(!out(2L)._2 && !out(2L)._1, "word-count minimum")
    assert(!out(3L)._3 && !out(3L)._1, "symbol ratio")
    assert(!out(4L)._4 && !out(4L)._1, "bullet-line fraction")
    assert(!out(5L)._5 && !out(5L)._1, "alphabetic word fraction")
    assert(!out(6L)._6 && !out(6L)._1, "stopword-type minimum")
    assert(!out(7L)._1, "empty doc rejected, no NULL leak into keep")
  }

  test("lineDedupCorpus: strips EVERY occurrence at minDocs distinct docs, hot/cold invariant") {
    val docs = Seq(
      (1L, "intro one\ncookie banner\nbody alpha"),
      (2L, "cookie banner\nbody beta\ncookie banner"), // in-doc repeat: 1 distinct doc per extra copy
      (3L, "body gamma\nrepeated in same doc\nrepeated in same doc"),
      (4L, "cookie banner")). // all-boilerplate doc empties
      toDF("doc_id", "text")
    def res(minDocs: Long, hotDocs: Long = 65536L) =
      Dedup.lineDedupCorpus(docs, "doc_id", "text", minDocs, hotDocs)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val out = res(2L)
    assert(out(1L) == ((3L, 2L, "intro one\nbody alpha")),
      "the banner is stripped from its FIRST doc too (no keep-first)")
    assert(out(2L) == ((3L, 1L, "body beta")))
    assert(out(3L) == ((3L, 3L, "body gamma\nrepeated in same doc\nrepeated in same doc")),
      "an in-doc repeat is ONE distinct doc — not boilerplate")
    assert(out(4L) == ((1L, 0L, "")), "all-boilerplate doc keeps its row, empty text")
    assert(res(2L, hotDocs = 2L) == out && res(2L, hotDocs = 3L) == out,
      "hot/cold routing is invisible to results")
    assert(res(4L).values.forall(v => v._1 == v._2), "minDocs above max df keeps everything")
  }

  test("exactRun operators: hot/cold df-split routing is invisible to results") {
    // same adversarial tiny-vocab corpus; hotDf=2 routes EVERY repeated
    // gram through the broadcast path, hotDf=5 mixes the two paths —
    // both must be row-identical to the all-cold default
    val n = 4
    val rnd = new scala.util.Random(321)
    val docs = (0 until 60).map { i =>
      val len = 4 + rnd.nextInt(20)
      (i.toLong, (0 until len).map(_ => s"w${rnd.nextInt(8)}").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc").collect().map(_.toSeq).toSeq
    val covCold = rows(TextOps.exactRunCoverage(df, "doc_id", "text", n))
    assert(rows(TextOps.exactRunCoverage(df, "doc_id", "text", n, hotDf = 2L)) == covCold)
    assert(rows(TextOps.exactRunCoverage(df, "doc_id", "text", n, hotDf = 5L)) == covCold)
    val dedCold = rows(TextOps.exactRunDedupText(df, "doc_id", "text", n))
    assert(rows(TextOps.exactRunDedupText(df, "doc_id", "text", n, hotDf = 2L)) == dedCold)
    assert(rows(TextOps.exactRunDedupText(df, "doc_id", "text", n, hotDf = 5L)) == dedCold)
  }

  test("langIdMulti: native sentences classify to their language, all ten classes") {
    // one plain-prose sentence per language — function words + diacritics,
    // nothing adversarial
    val samples = Seq(
      "de" -> "Der Hund und die Katze sind in dem großen Garten geblieben, und ich dachte an nichts.",
      "en" -> "The cat was sitting on the mat and the dog was watching the nation's information.",
      "es" -> "Los niños que viven en una casa grande son los que juegan por la mañana con las cosas.",
      "fr" -> "Les enfants des écoles ont une grande salle où les professeurs donnent des leçons utiles.",
      "it" -> "Che cosa vuoi che io faccia per te, della bella giornata che non passa mai, degli amici?",
      "nl" -> "Een goede vriend van het dorp kwam aan de deur en dat was niet een verrassing voor ons.",
      "pl" -> "Nie wiem, czy przyszedł do nas wczoraj, ale przecież czekaliśmy na niego przez cały dzień.",
      "pt" -> "A nação não tem uma solução para os problemas da população, com a informação que temos.",
      "sv" -> "Det var en gång en liten flicka som bodde i en stor stad och hon älskade att läsa böcker.",
      "tr" -> "Onlar bir gün için şehre geldiler ve yaşadıkları yerin insanları onları çok iyi karşıladı.")
    val out = samples.map { case (lang, s) => (lang, s) }.toDF("expected", "text")
      .select(col("expected"), TextOps.langIdMulti(col("text")).as("lm"))
      .select(col("expected"), col("lm.lang_pred").as("got"), col("lm.score"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(0),
        s"expected ${r.getString(0)}, got ${r.getString(1)} (score ${r.getLong(2)})")
    }
  }

  test("langIdMulti: all-zero scores give 'und'; ties break to the smallest code") {
    val out = Seq((1L, "xxxx qq kk 12345"), (2L, ""), (3L, "derque"))
      .toDF("id", "text")
      .select(col("id"), TextOps.langIdMulti(col("text")).as("lm")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getStruct(1).getString(0), r.getStruct(1).getLong(1)))
    assert(out(0) == ((1L, "und", 0L)), "no profile gram fires")
    assert(out(1) == ((2L, "und", 0L)), "empty text is undetermined")
    // "derque": de scores 1 ('der'), es scores 1 ('que'), fr scores 1 ('que')
    // — tie breaks to 'de', the smallest code
    assert(out(2) == ((3L, "de", 1L)), "pinned lexicographic tie-break")
  }

  test("langIdMulti feeds the temperature mix: detected-language counts flatten the sample") {
    // 40 english docs vs 4 german docs: the sampler must keep all the
    // rare detected class and sqrt-flatten the dominant one
    val docs = ((0 until 40).map(i => (i.toLong, s"The thing and the other thing number $i was there."))
      ++ (40 until 44).map(i => (i.toLong, s"Der Wagen und die Straße und ich, Nummer $i.")))
      .toDF("doc_id", "text")
      .select(col("doc_id").cast("string").as("doc_id"),
        TextOps.langIdMulti(col("text")).getField("lang_pred").as("lp"))
      .localCheckpoint()
    val counts = docs.groupBy("lp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("en", "de") && counts("en") == 40 && counts("de") == 4)
    val rates = Sharding.flattenedKeepPermille(counts)
    assert(rates("de") == 1000, "rarest detected class keeps everything")
    assert(rates("en") == math.round(1000.0 * math.sqrt(4.0 / 40)).toInt)
    val kept = Sharding.sampleStratified(docs, "doc_id", "lp", rates)
      .groupBy("lp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("de") == 4, "permille 1000 keeps every rare-class doc")
    assert(kept.getOrElse("en", 0L) < 40, "dominant class is down-sampled")
  }

  test("zorderValue matches an independent Morton reference; rangeBucket is exact") {
    import spark.implicits._
    def mortonRef(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (255L, 255L), (170L, 85L), (200L, 13L))
    val got = cases.toDF("x", "y")
      .select(col("x"), col("y"), Sharding.zorderValue(col("x"), col("y"), 8).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cases.foreach { case (x, y) => assert(got((x, y)) === mortonRef(x, y, 8), s"($x,$y)") }

    // rangeBucket: exact integer floor division, clamped at both ends
    val vals = Seq(-5L, 0L, 1L, 1202L, 2404L, 9999L)
    val b = vals.toDF("v")
      .select(col("v"), Sharding.rangeBucket(col("v"), 0L, 2404L, 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vals.foreach { v =>
      val expect = math.min(255L, math.max(0L, v * 256L / 2405L))
      assert(b(v) === expect, s"v=$v")
    }
    // locality: adjacent z-values stay adjacent in at least one dim (the
    // interleave property: z differing only in the low bit differ by x's low bit)
    assert(mortonRef(2, 0, 8) === 4L && mortonRef(0, 2, 8) === 8L)
  }
  test("packWarcRevisitShards: first fetch stores bytes, later fetches store references") {
    import spark.implicits._
    // ids 1..6 over two distinct payloads; arrival order = id order, so
    // 1 and 2 are the originals, 3-6 the revisits; shards split them
    val rows = (1L to 6L).map { id =>
      val payload = s"shared-content-${(id - 1) % 2}".getBytes("UTF-8")
      (if (id % 2 == 0) 1 else 0, id, s"http://a.org/p$id", payload)
    }.toDF("shard", "id", "uri", "blob")
    val shards = graft.operators.Sharding
      .packWarcRevisitShards(rows, "shard", "id", "uri", "blob")
      .collect().map(r => r.getAs[Int]("shard") -> r).toMap
    assert(shards(0).getAs[Long]("n_response") == 1L) // id 1
    assert(shards(0).getAs[Long]("n_revisit") == 2L)  // ids 3, 5
    assert(shards(1).getAs[Long]("n_response") == 1L) // id 2
    assert(shards(1).getAs[Long]("n_revisit") == 2L)  // ids 4, 6
    val all = shards.values.flatMap(r =>
      graft.codec.WarcCodec.parse(r.getAs[Array[Byte]]("warc")).get).toSeq
    val byId = all.map(w => w.recordId -> w).toMap
    // every revisit's digest matches its original's payload md5, and the
    // saved mass is exactly the duplicate payload bytes
    all.filter(_.warcType == "revisit").foreach { w =>
      val orig = byId(w.extras.collectFirst { case ("WARC-Refers-To", v) => v }
        .get.stripPrefix("<").stripSuffix(">"))
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(orig.payload).map("%02x".format(_)).mkString
      assert(w.extras.contains("WARC-Payload-Digest" -> s"md5:$dig"))
      assert(w.payload.isEmpty)
    }
    val saved = shards.values.map(_.getAs[Long]("n_saved_bytes")).sum
    assert(saved == 4L * "shared-content-0".getBytes("UTF-8").length)
  }
  test("urlResolve: null base keeps an absolute ref, nulls a relative one (chain parity)") {
    import spark.implicits._
    val df = Seq(
      (Option.empty[String], Some("http://x.org/abs")),
      (Option.empty[String], Some("../rel")),
      (Option.empty[String], Some("")),
      (Some("http://a.org/d/"), Option.empty[String]))
      .toDF("base", "ref")
    val got = df.select(TextOps.urlResolve(col("base"), col("ref")).as("r"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(got == Seq(Some("http://x.org/abs"), None, None, None),
      s"got $got — the old column chain resolved absolute refs without a base")
  }
}
