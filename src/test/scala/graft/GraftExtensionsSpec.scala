package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions=graft.GraftExtensions` delivery path: every
  * SQL function must be available in a BRAND-NEW session (fresh
  * FunctionRegistry — temp functions registered by other suites via
  * `registerAll` do not survive `newSession()`, injected ones do). */
class GraftExtensionsSpec extends AnyFunSuite with SparkSpec {

  /** Messages down the cause chain (depth-bounded: a cyclic cause chain
    * must not loop the assertion helper forever). */
  private def msgs(t: Throwable, depth: Int = 16): Seq[String] =
    if (t == null || depth == 0) Seq.empty
    else Option(t.getMessage).toSeq ++ msgs(t.getCause, depth - 1)

  test("fresh session sees kernels + sketch functions without registerAll") {
    val fresh = spark.newSession()
    val row = fresh.sql(
      """SELECT levenshtein_sim('kitten', 'sitting')                  AS lev_s,
                damerau_levenshtein_dist('ca', 'abc')                 AS dam,
                indel_sim('abcde', 'ace')                             AS ind,
                ngram_jaccard_dist('abcd', 'abcd', 3)                 AS jd,
                size(minhash_signature(array('ab', 'bc'), 16))        AS k,
                fvec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F))        AS dot""").head()
    assert(math.abs(row.getAs[Double]("lev_s") - 4.0 / 7) < 1e-12)
    assert(math.abs(row.getAs[Double]("dam") - 2.0 / 3) < 1e-12)
    assert(math.abs(row.getAs[Double]("ind") - 0.75) < 1e-12)
    assert(row.getAs[Double]("jd") == 0.0)
    assert(row.getAs[Int]("k") == 16)
    assert(math.abs(row.getAs[Double]("dot") - 11.0) < 1e-12)
  }

  test("topk_pairs aggregates in pure SQL with the documented total order") {
    val fresh = spark.newSession()
    import fresh.implicits._
    Seq((1L, 10L, 0.5), (1L, 11L, 0.9), (1L, 12L, 0.9), (1L, 13L, 0.1),
        (2L, 20L, 0.3))
      .toDF("g", "id", "score").createOrReplaceTempView("tk_in")
    val rows = fresh.sql(
      """SELECT g, p.id AS id, p.score AS score
         FROM (SELECT g, topk_pairs(score, id, 2) AS tk FROM tk_in GROUP BY g),
              LATERAL posexplode(tk) AS t(pos, p)
         ORDER BY g, pos""").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // score desc, id asc on the 0.9 tie; group 2 keeps its single row
    assert(rows == Seq((1L, 11L, 0.9), (1L, 12L, 0.9), (2L, 20L, 0.3)), s"got $rows")
    // the extension plans it as the engine's top-K at the default settings
    val plan = fresh.sql("SELECT g, topk_pairs(score, id, 2) AS tk FROM tk_in GROUP BY g")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPartial") && plan.contains("partial_topk_pairs") &&
      plan.contains("TopKFinal"), s"expected the engine's partial and final steps:\n$plan")
    Seq("ObjectHashAggregate", "SortAggregate", "Window", "Sort [").foreach { node =>
      assert(!plan.contains(node), s"unexpected $node:\n$plan")
    }
  }

  test("ann_topk TVF: brute mode equals the Scala path, ivf full-probe " +
    "equals brute, malformed args are diagnostics") {
    val fresh = spark.newSession()
    val emb = fresh.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.where(org.apache.spark.sql.functions.col("vec_id") < 5)
      .createOrReplaceTempView("at_queries")
    emb.createOrReplaceTempView("at_corpus")

    def rows(sql: String) = fresh.sql(sql).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6), r.getInt(3))).toSet

    val viaSql = rows(
      """SELECT query_id, corpus_id, cosine, rank
         FROM ann_topk('at_queries', 'at_corpus', 'embedding', 'vec_id', 7)""")
    val viaScala = graft.pipeline.AnnSearch.bruteForceTopK(
        fresh.table("at_queries"), fresh.table("at_corpus"),
        "embedding", "vec_id", 7)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"),
        math.round(r.getAs[Double]("cosine") * 1e6), r.getAs[Int]("rank"))).toSet
    assert(viaSql == viaScala && viaSql.nonEmpty)

    // IVF with every cell probed is provably exact (a corpus row lives in
    // exactly one cell), so it must reproduce brute from pure SQL too
    val viaIvf = rows(
      """SELECT query_id, corpus_id, cosine, rank
         FROM ann_topk('at_queries', 'at_corpus', 'embedding', 'vec_id', 7,
                       'mode', 'ivf', 'n_cells', 4, 'n_probe', 4)""")
    assert(viaIvf == viaScala)

    for ((sql, frag) <- Seq(
      ("SELECT * FROM ann_topk('at_queries', 'at_corpus', 'embedding')",
        "Usage"),
      ("SELECT * FROM ann_topk('at_queries', 'at_corpus', 'embedding', " +
        "'vec_id', 5, 'bogus', 1)", "unknown option"),
      ("SELECT * FROM ann_topk('at_queries', 'at_corpus', 'embedding', " +
        "'vec_id', 5, 'mode', 'fancy')", "mode"),
      ("SELECT * FROM ann_topk('at_queries', 'at_corpus', 'embedding', " +
        "'vec_id', cast(2.5 as double))", "integer"),
      ("SELECT * FROM ann_topk('at_queries', 'at_corpus', 'embedding', " +
        "'vec_id', 0)", "k must be >= 1"))) {
      val e = intercept[Exception] { fresh.sql(sql).collect() }
      assert(msgs(e).exists(_.contains(frag)), s"$sql -> ${msgs(e)}")
    }
  }

  test("dedup_pairs TVF: all four methods equal their Scala operators, " +
    "malformed args are diagnostics") {
    val fresh = spark.newSession()
    fresh.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("dp_docs")
    val docs = fresh.table("dp_docs")

    def rows(sql: String) = fresh.sql(sql).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def scalaPairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet

    val viaSim = rows("""SELECT id_a, id_b FROM dedup_pairs(
      'dp_docs', 'text', 'doc_id', 'max_hamming', 8, 'use_md5', true)""")
    assert(viaSim == scalaPairs(graft.pipeline.Dedup.simhashPairs(
      docs, "text", "doc_id", maxHamming = 8, useMd5 = true)) && viaSim.nonEmpty)

    val viaMin = rows("""SELECT id_a, id_b FROM dedup_pairs(
      'dp_docs', 'text', 'doc_id', 'method', 'minhash', 'threshold', 0.4)""")
    assert(viaMin == scalaPairs(graft.pipeline.Dedup.minhashLshPairs(
      docs, "text", "doc_id", threshold = 0.4)))

    val viaNgram = rows("""SELECT id_a, id_b FROM dedup_pairs(
      'dp_docs', 'text', 'doc_id', 'method', 'ngram', 'threshold', 0.5)""")
    assert(viaNgram == scalaPairs(graft.pipeline.Dedup.ngramJaccardPairs(
      docs, "text", "doc_id", 3, 0.5)))

    val viaWin = rows("""SELECT id_a, id_b FROM dedup_pairs(
      'dp_docs', 'text', 'doc_id', 'method', 'winnow',
      'min_shared', 50, 'use_md5', true)""")
    assert(viaWin == scalaPairs(graft.pipeline.Dedup.winnowOverlapPairs(
      docs, "text", "doc_id", k = 5, window = 4, minShared = 50L,
      useMd5 = true)) && viaWin.nonEmpty)

    for ((sql, frag) <- Seq(
      ("SELECT * FROM dedup_pairs('dp_docs', 'text')", "Usage"),
      ("SELECT * FROM dedup_pairs('dp_docs', 'text', 'doc_id', 'bogus', 1)",
        "unknown option"),
      ("SELECT * FROM dedup_pairs('dp_docs', 'text', 'doc_id', " +
        "'method', 'md5')", "method"),
      ("SELECT * FROM dedup_pairs('dp_docs', 'text', 'doc_id', " +
        "'max_hamming', cast(2.5 as double))", "integer"))) {
      val e = intercept[Exception] { fresh.sql(sql).collect() }
      assert(msgs(e).exists(_.contains(frag)), s"$sql -> ${msgs(e)}")
    }
  }

  test("hamming_pairs_stored TVF: SQL path equals the Scala stored reader, " +
    "never-saved store and malformed args are diagnostics") {
    val fresh = spark.newSession()
    import fresh.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7L)
    val corpus = (0 until 60).flatMap { i =>
      val base = rnd.nextLong()
      Seq((i * 3L, base), (i * 3L + 1, base ^ 3L), (i * 3L + 2, rnd.nextLong()))
    }.toDF("id", "h")
    val store = java.nio.file.Files.createTempDirectory("hps_tvf").toString
    graft.pipeline.Dedup.saveHammingState(corpus, col("h"), "id", store,
      maxHamming = 3, nBuckets = 8)
    corpus.where(col("id") % 4 === 0).createOrReplaceTempView("hps_batch")

    val viaSql = fresh.sql(
      s"""SELECT id_a, id_b, hamming
          FROM hamming_pairs_stored('hps_batch', 'h', 'id', '$store')""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaScala = graft.pipeline.Dedup.hashPairsAgainstStored(
        fresh.table("hps_batch"), col("h"), "id",
        graft.pipeline.Dedup.loadHammingState(fresh, store))
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("hamming"))).toSet
    assert(viaSql == viaScala && viaSql.nonEmpty)

    for ((sql, frag) <- Seq(
      ("SELECT * FROM hamming_pairs_stored('hps_batch', 'h')", "Usage"),
      (s"SELECT * FROM hamming_pairs_stored('hps_batch', 'h', 'id', " +
        s"'$store', 'bogus', 1)", "unknown option"),
      ("SELECT * FROM hamming_pairs_stored('hps_batch', 'h', 'id', " +
        "'/tmp/hps_tvf_never_saved')", "no committed generation"))) {
      val e = intercept[Exception] { fresh.sql(sql).collect() }
      assert(msgs(e).exists(_.contains(frag)), s"$sql -> ${msgs(e)}")
    }
  }

  test("minhash_pairs_stored TVF: SQL path equals the Scala stored reader, " +
    "malformed args are diagnostics") {
    val fresh = spark.newSession()
    import org.apache.spark.sql.functions.col
    val docs = fresh.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val batch = docs.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val store = java.nio.file.Files.createTempDirectory("mps_tvf").toString
    graft.pipeline.Dedup.saveMinhashState(docs, "text", "doc_id", store,
      shingleLen = 3, numBands = 16, rowsPerBand = 1, nBuckets = 8)
    batch.createOrReplaceTempView("mps_batch")

    val viaSql = fresh.sql(
      s"""SELECT id_a, id_b, jaccard
          FROM minhash_pairs_stored('mps_batch', 'text', 'doc_id', '$store',
                                    'threshold', 0.5)""")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val viaScala = graft.pipeline.Dedup.minhashPairsAgainstStored(
        batch, "text", "doc_id",
        graft.pipeline.Dedup.loadMinhashState(fresh, store), threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        math.round(r.getAs[Double]("jaccard") * 1e9))).toSet
    assert(viaSql == viaScala && viaSql.nonEmpty)

    for ((sql, frag) <- Seq(
      ("SELECT * FROM minhash_pairs_stored('mps_batch', 'text')", "Usage"),
      (s"SELECT * FROM minhash_pairs_stored('mps_batch', 'text', 'doc_id', " +
        s"'$store', 'bogus', 1)", "unknown option"),
      ("SELECT * FROM minhash_pairs_stored('mps_batch', 'text', 'doc_id', " +
        "'/tmp/mps_tvf_never_saved')", "no committed generation"))) {
      val e = intercept[Exception] { fresh.sql(sql).collect() }
      assert(msgs(e).exists(_.contains(frag)), s"$sql -> ${msgs(e)}")
    }
  }

  test("winnow_pairs_stored TVF: SQL path equals the Scala stored reader, " +
    "malformed args are diagnostics") {
    val fresh = spark.newSession()
    import org.apache.spark.sql.functions.col
    val docs = fresh.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val batch = docs.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val store = java.nio.file.Files.createTempDirectory("wps_tvf").toString
    graft.pipeline.Dedup.saveWinnowState(docs, "text", "doc_id", store,
      k = 5, window = 4, nBuckets = 8)
    batch.createOrReplaceTempView("wps_batch")

    val viaSql = fresh.sql(
      s"""SELECT id_a, id_b, n_shared
          FROM winnow_pairs_stored('wps_batch', 'text', 'doc_id', '$store',
                                   'min_shared', 10)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaScala = graft.pipeline.Dedup.winnowPairsAgainstStored(
        batch, "text", "doc_id",
        graft.pipeline.Dedup.loadWinnowState(fresh, store), minShared = 10L)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_shared"))).toSet
    assert(viaSql == viaScala && viaSql.nonEmpty)

    for ((sql, frag) <- Seq(
      ("SELECT * FROM winnow_pairs_stored('wps_batch', 'text')", "Usage"),
      (s"SELECT * FROM winnow_pairs_stored('wps_batch', 'text', 'doc_id', " +
        s"'$store', 'bogus', 1)", "unknown option"),
      (s"SELECT * FROM winnow_pairs_stored('wps_batch', 'text', 'doc_id', " +
        s"'$store', 'min_shared', 2.9)", "must be an integer literal"),
      ("SELECT * FROM winnow_pairs_stored('wps_batch', 'text', 'doc_id', " +
        "'/tmp/wps_tvf_never_saved')", "no committed generation"))) {
      val e = intercept[Exception] { fresh.sql(sql).collect() }
      assert(msgs(e).exists(_.contains(frag)), s"$sql -> ${msgs(e)}")
    }
  }

  test("semdedup_pairs_stored TVF: SQL path equals the Scala stored reader, " +
    "malformed args are diagnostics") {
    val fresh = spark.newSession()
    import org.apache.spark.sql.functions.col
    val emb = fresh.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = graft.pipeline.DemoModels.SemCentroids
    val store = java.nio.file.Files.createTempDirectory("sdps_tvf").toString
    graft.pipeline.Dedup.saveSemDedupState(emb.where(col("vec_id") % 10 =!= 0),
      "embedding", "vec_id", store, cents, dim = 64, nCells = 8)
    emb.where(col("vec_id") % 10 === 0).createOrReplaceTempView("sdps_batch")

    val viaSql = fresh.sql(
      s"""SELECT id_a, id_b, cosine
          FROM semdedup_pairs_stored('sdps_batch', 'embedding', 'vec_id',
                                     '$store', 0.35)""")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val viaScala = graft.pipeline.Dedup.semDedupPairsAgainstStored(
        fresh.table("sdps_batch"), "embedding", "vec_id",
        graft.pipeline.Dedup.loadSemDedupState(fresh, store), threshold = 0.35)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        math.round(r.getAs[Double]("cosine") * 1e9))).toSet
    assert(viaSql == viaScala && viaSql.nonEmpty)

    for ((sql, frag) <- Seq(
      ("SELECT * FROM semdedup_pairs_stored('sdps_batch', 'embedding')", "Usage"),
      (s"SELECT * FROM semdedup_pairs_stored('sdps_batch', 'embedding', " +
        s"'vec_id', '$store', 0.35, 'bogus', 1)", "unknown option"),
      (s"SELECT * FROM semdedup_pairs_stored('sdps_batch', 'embedding', " +
        s"'vec_id', '$store', 0.35, 'max_cell_pairs', 2.9)",
        "must be an integer literal"),
      ("SELECT * FROM semdedup_pairs_stored('sdps_batch', 'embedding', " +
        "'vec_id', '/tmp/sdps_tvf_never_saved', 0.35)",
        "no committed generation"))) {
      val e = intercept[Exception] { fresh.sql(sql).collect() }
      assert(msgs(e).exists(_.contains(frag)), s"$sql -> ${msgs(e)}")
    }
  }

  test("bm25_topk TVF equals the Scala search, options parse, malformed " +
    "args are diagnostics") {
    val fresh = spark.newSession()
    import org.apache.spark.sql.functions.{col, concat_ws, expr}
    val docs = fresh.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.createOrReplaceTempView("bt_corpus")
    docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("query_id"),
        expr("concat_ws(' ', slice(split(trim(lower(text)), '\\\\s+'), 1, 5))").as("qtext"))
      .createOrReplaceTempView("bt_queries")

    def rows(sql: String) = fresh.sql(sql).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6), r.getInt(3))).toSet
    val viaSql = rows(
      """SELECT query_id, doc_id, score, rank
         FROM bm25_topk('bt_corpus', 'bt_queries',
                        'text', 'doc_id', 'qtext', 'query_id', 5)""")
    val viaScala = graft.pipeline.TextAnalysis.bm25TopK(
        fresh.table("bt_corpus"), "text", "doc_id",
        fresh.table("bt_queries"), "qtext", "query_id", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        math.round(r.getAs[Double]("score") * 1e6), r.getAs[Int]("rank"))).toSet
    assert(viaSql == viaScala && viaSql.nonEmpty)

    // k1/b options reach the scorer: a different shape must change scores
    val flat = rows(
      """SELECT query_id, doc_id, score, rank
         FROM bm25_topk('bt_corpus', 'bt_queries',
                        'text', 'doc_id', 'qtext', 'query_id', 5,
                        'k1', 0.1, 'b', 0.0)""")
    assert(flat.map(t => (t._1, t._2)).nonEmpty && flat != viaSql)

    for ((sql, frag) <- Seq(
      ("SELECT * FROM bm25_topk('bt_corpus', 'bt_queries', 'text')", "Usage"),
      ("SELECT * FROM bm25_topk('bt_corpus', 'bt_queries', 'text', " +
        "'doc_id', 'qtext', 'query_id', 5, 'bogus', 1)", "unknown option"),
      ("SELECT * FROM bm25_topk('bt_corpus', 'bt_queries', 'text', " +
        "'doc_id', 'qtext', 'query_id', 0)", "k must be >= 1"))) {
      val e = intercept[Exception] { fresh.sql(sql).collect() }
      assert(msgs(e).exists(_.contains(frag)), s"$sql -> ${msgs(e)}")
    }
  }

  test("fuzzy_match TVF runs the full planner from pure SQL") {
    val fresh = spark.newSession()
    import fresh.implicits._
    Seq(("apple inc", 1L), ("micro soft", 2L), ("zzz corp", 3L))
      .toDF("lname", "lid").createOrReplaceTempView("fm_left")
    Seq(("apple incx", 10L), ("microsoft", 20L))
      .toDF("rname", "rid").createOrReplaceTempView("fm_right")
    val viaSql = fresh.sql(
      """SELECT lid, rid, round(lname_vs_rname_levenshtein, 6) AS score
         FROM fuzzy_match('fm_left', 'fm_right', 'lname', 'rname', 70.0, 'levenshtein')
         ORDER BY lid, rid""").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaScala = graft.fuzzy.FuzzyMatcher.matchDfs(
        fresh.table("fm_left"), fresh.table("fm_right"),
        Seq(graft.fuzzy.FuzzyMapping("lname", "rname", 70.0,
          graft.fuzzy.FuzzyAlgorithm.Levenshtein)))
      .selectExpr("lid", "rid", "round(lname_vs_rname_levenshtein, 6) AS score")
      .orderBy("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaSql.nonEmpty, "SQL front door returned no matches")
    assert(viaSql == viaScala, s"SQL=$viaSql Scala=$viaScala")
    // composes like any subquery: projection + filter on top
    val filtered = fresh.sql(
      """SELECT count(*) FROM fuzzy_match('fm_left', 'fm_right',
           'lname', 'rname', 70.0, 'levenshtein')
         WHERE lname_vs_rname_levenshtein >= 0.9""").head().getLong(0)
    assert(filtered <= viaSql.size)
  }

  test("fuzzy_match TVF accepts the reference front door's strategy options") {
    val fresh = spark.newSession()
    import fresh.implicits._
    Seq(("apple inc", 1L), ("micro soft", 2L))
      .toDF("lname", "lid").createOrReplaceTempView("fmo_left")
    Seq(("apple incx", 10L), ("microsoft", 20L))
      .toDF("rname", "rid").createOrReplaceTempView("fmo_right")
    def run(optsSql: String) = fresh.sql(
      s"""SELECT lid, rid, round(lname_vs_rname_levenshtein, 6) AS score
          FROM fuzzy_match('fmo_left', 'fmo_right',
                           'lname', 'rname', 70.0, 'levenshtein' $optsSql)
          ORDER BY lid, rid""").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val auto = run("")
    // forced exact and forced approx agree on matches (the approx path
    // bails to exact on a degenerate tiny corpus — same rows either way)
    assert(run(", 'use_approx', false") == auto)
    assert(run(", 'use_approx', true, 'top_n', 100") == auto)
    assert(run(", 'cross_over', 1000000") == auto)
    val e = intercept[Exception] {
      run(", 'nonsense_option', 1")
    }
    assert(e.getMessage.contains("fuzzy_match"), e.getMessage)
  }

  test("fuzzy_match TVF: checkpoint_dir gives a pure-SQL client reliable " +
    "barriers (files under the caller's dir, released by MatchScope)") {
    val fresh = spark.newSession()
    import fresh.implicits._
    Seq(("apple inc", 1L), ("micro soft", 2L))
      .toDF("lname", "lid").createOrReplaceTempView("fmc_left")
    Seq(("apple incx", 10L), ("microsoft", 20L))
      .toDF("rname", "rid").createOrReplaceTempView("fmc_right")
    val dir = java.nio.file.Files.createTempDirectory("graft_tvf_ckpt").toFile
    try {
      def files() = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(dir)
      }
      val baseline = fresh.sql(
        """SELECT lid, rid FROM fuzzy_match('fmc_left', 'fmc_right',
             'lname', 'rname', 70.0, 'levenshtein') ORDER BY lid, rid""")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val inScope = graft.util.MatchScope.withMatchScope {
        val rows = fresh.sql(
          s"""SELECT lid, rid FROM fuzzy_match('fmc_left', 'fmc_right',
                'lname', 'rname', 70.0, 'levenshtein',
                'checkpoint_dir', '${dir.getAbsolutePath}') ORDER BY lid, rid""")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        // reliable barriers materialized under the CALLER'S directory
        assert(files().nonEmpty,
          s"no checkpoint files under ${dir.getAbsolutePath}")
        rows
      }
      assert(inScope == baseline, s"reliable=$inScope local=$baseline")
      // the scope released the checkpoint files on close (the lifecycle
      // contract shared with the Scala front door's withTempMatchDir)
      assert(files().isEmpty, s"leaked checkpoint files: ${files()}")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("fuzzy_match TVF rejects malformed argument lists") {
    val fresh = spark.newSession()
    fresh.range(1).selectExpr("'a' AS c").createOrReplaceTempView("fm_bad")
    val e1 = intercept[Exception] {
      fresh.sql("SELECT * FROM fuzzy_match('fm_bad', 'fm_bad', 'c')").collect()
    }
    assert(e1.getMessage.contains("fuzzy_match"), e1.getMessage)
    val e2 = intercept[Exception] {
      fresh.sql(
        "SELECT * FROM fuzzy_match('fm_bad', 'fm_bad', 'c', 'c', 80.0, 'nope')")
        .collect()
    }
    assert(e2.getMessage.toLowerCase.contains("unknown fuzzy algorithm"),
      e2.getMessage)
  }

  test("fuzzy_match TVF: every malformed call fails with a diagnostic, " +
    "never a MatchError or silent mis-parse") {
    val fresh = spark.newSession()
    fresh.range(1).selectExpr("'a' AS c", "1 AS n").createOrReplaceTempView("fm_fz")
    val calls = Seq(
      "fuzzy_match(NULL, 'fm_fz', 'c', 'c', 80.0, 'levenshtein')",     // null table
      "fuzzy_match('fm_fz', 'fm_fz', 'c', 'c', rand(), 'levenshtein')",// non-foldable
      "fuzzy_match('fm_fz', 'fm_fz', 'c', 'c', 'eighty', 'levenshtein')", // non-numeric threshold
      "fuzzy_match('fm_fz', 'fm_fz', 'c', 'c', 80.0, 42)",             // numeric algo
      "fuzzy_match('fm_fz', 'fm_fz', 'c', 'c', 80.0, 'levenshtein', 'top_n')", // dangling option key
      "fuzzy_match('fm_fz', 'fm_fz', 'c', 'c', 80.0, 'levenshtein', 'use_approx', 'yes')", // non-bool option
      "fuzzy_match('fm_fz', 'fm_fz', 'c', 'c', 80.0, 'levenshtein', 'top_n', 'many')", // non-numeric option
      "fuzzy_match('fm_fz', 'fm_fz', 'c', 'c', 80.0, 'levenshtein', 'top_n', 2.9)", // fractional top_n
      "fuzzy_match('fm_fz', 'fm_fz', 'c', 'c', 80.0, 'levenshtein', 'top_n', 0)", // top_n below 1
      "fuzzy_match('fm_fz', 'fm_fz', 'c', 'c', 80.0, 'levenshtein', 'checkpoint_dir', 42)", // non-string dir
      "fuzzy_match('fm_fz', 'fm_fz', 'c', 'c', 80.0, 'levenshtein', 'checkpoint_dir', '')", // empty dir
      "fuzzy_match('fm_fz', 'fm_fz', 'cross_over', 'c', 80.0, 'levenshtein')", // option-key column collision
      "fuzzy_match('fm_fz')",                                           // too few args
      "fuzzy_match('no_such_view_xyz', 'fm_fz', 'c', 'c', 80.0, 'levenshtein')", // unknown table
      "fuzzy_match('fm_fz', 'fm_fz', array(1), 'c', 80.0, 'levenshtein')") // array col name
    calls.foreach { callSql =>
      val e = intercept[Throwable] {
        fresh.sql(s"SELECT * FROM $callSql").collect()
      }
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
      assert(!chain(e).exists(_.isInstanceOf[MatchError]),
        s"MatchError escaped the TVF parser for: $callSql\n$e")
      assert(chain(e).exists(t => Option(t.getMessage).exists(m =>
          m.contains("fuzzy_match") || m.contains("Unknown fuzzy algorithm") ||
            m.contains("TABLE_OR_VIEW_NOT_FOUND"))),
        s"no diagnostic for: $callSql\ngot: ${e.getMessage}")
    }
  }

  test("fuzzy_match TVF: the option-key column collision error explains " +
    "the quadruple-vs-option ambiguity instead of misdirecting") {
    val fresh = spark.newSession()
    fresh.range(1).selectExpr("'a' AS use_approx", "'b' AS c")
      .createOrReplaceTempView("fm_amb")
    // a second mapping whose LEFT COLUMN is literally 'use_approx': the
    // parser stops quadruple consumption there and reads ('use_approx',
    // '<right_col>') as an option pair — must hard-error with the
    // aliasing hint, never silently mis-parse
    val e = intercept[Exception] {
      fresh.sql(
        """SELECT * FROM fuzzy_match('fm_amb', 'fm_amb',
             'c', 'c', 80.0, 'levenshtein',
             'use_approx', 'c', 80.0, 'levenshtein')""").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).take(8).toSeq
    val msg = chain(e).flatMap(t => Option(t.getMessage)).mkString("\n")
    assert(msg.contains("use_approx") && msg.contains("alias"), msg)
  }

  test("every builder-listed function resolves in a fresh session") {
    val names = GraftExtensions.builders.map(_._1)
    assert(names.size == names.toSet.size, "duplicate function names in the surface")
    assert(names.size >= 20, s"suspiciously small SQL surface: $names")
    val fresh = spark.newSession()
    val missing = names.filterNot(n => fresh.catalog.functionExists(n))
    assert(missing.isEmpty, s"functions not injected into a fresh session: $missing")
  }

  test("curate_dhash TVF: SQL path equals the Scala operator, options " +
    "parse, malformed calls fail with diagnostics") {
    import org.apache.spark.sql.functions._
    val fresh = spark.newSession()
    val docs = fresh.range(0, 120).select(col("id").as("doc_id"),
      (col("id") % 97).as("img_key"))
    docs.createOrReplaceTempView("cd_docs")
    graft.pipeline.Multimodal.encodePngDemo(
        docs.select(col("img_key")).distinct(), "img_key", 24, 20)
      .createOrReplaceTempView("cd_images")

    def run(sql: String) = fresh.sql(sql).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // exact (default) and hamming-cluster forms both equal the Scala path
    val images = fresh.table("cd_images")
    for (h <- Seq(0, 2)) {
      val viaSql = run(s"""SELECT keep_doc_id, dhash_hex, n_in_bucket
        FROM curate_dhash('cd_docs', 'cd_images', 'doc_id', 'img_key',
                          'payload', 'max_hamming', $h)""")
      val viaScala = graft.pipeline.Multimodal.curateByDHashImages(
          fresh.table("cd_docs"), "doc_id", "img_key", images, "payload",
          maxHamming = h)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(viaSql == viaScala && viaSql.nonEmpty, s"max_hamming=$h")
    }

    // a tighter quality gate must shrink (or keep) the curated set
    val gated = run("""SELECT keep_doc_id, dhash_hex, n_in_bucket
      FROM curate_dhash('cd_docs', 'cd_images', 'doc_id', 'img_key',
                        'payload', 'min_max_luma', 255)""")
    val open = run("""SELECT keep_doc_id, dhash_hex, n_in_bucket
      FROM curate_dhash('cd_docs', 'cd_images', 'doc_id', 'img_key',
                        'payload', 'min_max_luma', 0)""")
    assert(gated.size <= open.size)

    // malformed calls: arity, unknown option, out-of-range max_hamming,
    // non-literal option value — each a diagnostic, never a mis-parse
    for ((sql, frag) <- Seq(
      ("SELECT * FROM curate_dhash('cd_docs', 'cd_images', 'doc_id')",
        "Usage"),
      ("SELECT * FROM curate_dhash('cd_docs', 'cd_images', 'doc_id', " +
        "'img_key', 'payload', 'bogus_opt', 1)", "unknown option"),
      ("SELECT * FROM curate_dhash('cd_docs', 'cd_images', 'doc_id', " +
        "'img_key', 'payload', 'max_hamming', 40)", "max_hamming"),
      ("SELECT * FROM curate_dhash('cd_docs', 'cd_images', 'doc_id', " +
        "'img_key', 'payload', 'max_hamming', 'two')", "integer"),
      // a fractional numeric must fail loudly, never silently truncate
      // (2.9 running as max_hamming=2 would be a mis-parse, not an error)
      ("SELECT * FROM curate_dhash('cd_docs', 'cd_images', 'doc_id', " +
        "'img_key', 'payload', 'max_hamming', cast(2.9 as double))",
        "integer"))) {
      val e = intercept[Exception] { fresh.sql(sql).collect() }
      assert(msgs(e).exists(_.contains(frag)), s"$sql -> ${msgs(e)}")
    }
  }

  test("pagerank TVF equals the Scala walk, malformed args are diagnostics") {
    val fresh = spark.newSession()
    import org.apache.spark.sql.functions.{col, expr}
    fresh.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(expr("doc_id % 17").as("src"), expr("(doc_id * 5 + 3) % 17").as("dst"))
      .createOrReplaceTempView("pr_edges")
    val viaSql = fresh.sql(
      "SELECT * FROM pagerank('pr_edges', 'src', 'dst', 'iterations', 3)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaScala = graft.pipeline.WebGraph.pageRank(
        fresh.table("pr_edges"), "src", "dst", iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSql == viaScala && viaSql.nonEmpty)
    for ((sql, frag) <- Seq(
      ("SELECT * FROM pagerank('pr_edges', 'src')", "arguments"),
      ("SELECT * FROM pagerank('pr_edges', 'src', 'dst', 'iterations', 0)",
        "iterations"),
      ("SELECT * FROM pagerank('pr_edges', 'src', 'dst', 'bogus', 1)",
        "unknown option"),
      ("SELECT * FROM pagerank('pr_edges', 'src', 'dst', 'scale', 2.9)",
        "integer"))) {
      val e = intercept[Exception] { fresh.sql(sql).collect() }
      assert(msgs(e).exists(_.contains(frag)), s"$sql -> ${msgs(e)}")
    }
  }
}
