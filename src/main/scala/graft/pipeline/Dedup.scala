package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.{Blocking, CapMetrics, CheckpointStrategy, Materialize}
import graft.util.Partitioning.spread

/** Deduplication operators for large-scale training-data pipelines.
  *
  * These extend the engine beyond the reference's fuzzy-join surface (the
  * "north star" scope in BASELINE.json). Every operator is a pure DataFrame
  * transform: shuffles are keyed (hash-partitioned), nothing collects to
  * the driver, and the quadratic stages (pair generation) are always gated
  * by a blocking key (exact shingle, LSH band bucket, or simhash chunk) so
  * the full cartesian never materializes — the property that matters at
  * 100 TB / 1000 executors.
  */
object Dedup {

  // `logger`, not `log`: functions._ exports a log() Column builder
  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  // --------------------------------------------------------------- exact

  /** Exact dedup: one surviving row id per distinct text (min id), plus the
    * duplicate count. A single hash-aggregate shuffle on the text key. */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact-dedup'd corpus: keeps the min-id row per distinct text. Returns
    * the full original schema. At scale this is one shuffle keyed by a
    * 128-bit text digest rather than the full text payload. */
  def exactDedupRows(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = docs.groupBy(md5(col(textCol)).as("__digest"))
      .agg(min(col(idCol)).as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Sub-document (chunk-level) exact dedup — C4-style passage pruning.
    * Documents split into NON-overlapping `chunkTokens`-token windows and
    * ONE representative survives per distinct chunk text: the first
    * occurrence in (id, chunk_index) order. Whole-document dedup misses a
    * boilerplate passage pasted into otherwise-distinct documents; this
    * catches it at chunk granularity.
    *
    * Scale shape: one narrow chunk projection (codegen; no shuffle), then
    * ONE hash-agg shuffle keyed by the 128-bit chunk digest — the chunk
    * TEXT never shuffles, and the arg-min rides a two-long struct key
    * (map-side combine applies). Output is the surviving chunk stream
    * (id, chunk_index, chunk_md5, dup_count); re-assembling pruned
    * documents is a groupBy(id) + sort + concat away, and dup_count > 1
    * rows are exactly the corpus's repeated passages.
    *
    * The arg-min ordering key is `struct(id, chunk_index)` — structs
    * compare lexicographically in Spark, which IS (id, index) order, and
    * unlike the `id * maxChunks + index` packing trick it cannot
    * overflow for any id (hash-derived 63-bit ids included).
    * `maxChunksPerDoc` is retained in the signature for callers that
    * relied on it but no longer affects correctness. */
  def chunkDedup(docs: DataFrame, textCol: String, idCol: String,
                 chunkTokens: Int, maxChunksPerDoc: Long = 1_000_000L): DataFrame = {
    val ord = struct(col(idCol), col("chunk_index"))
    Curation.chunkStream(docs, textCol, Seq(col(idCol)), chunkTokens, overlap = 0)
      .groupBy(Curation.chunkDigest.as("chunk_md5"))
      .agg(min_by(col(idCol), ord).as(idCol),
        min_by(col("chunk_index"), ord).as("chunk_index"),
        count(lit(1)).as("dup_count"))
      .select(col(idCol), col("chunk_index"), col("chunk_md5"), col("dup_count"))
  }

  /** One-row corpus-duplication health report — the numbers a data lead
    * reads before deciding whether a crawl drop needs dedup at all:
    * document-level (rows vs distinct texts) and chunk-level (instances
    * vs distinct digests, and how many instances belong to a digest
    * seen more than once — boilerplate exposure). Two hash-aggregates
    * over digests; text never shuffles. Exact counts, so the report is
    * oracle-comparable. */
  def duplicationStats(docs: DataFrame, textCol: String, idCol: String,
                       chunkTokens: Int = 16): DataFrame = {
    val docStats = docs.agg(
      count(lit(1)).cast("long").as("n_docs"),
      count_distinct(md5(col(textCol))).cast("long").as("n_distinct_texts"))
    val chunkCounts = Curation
      .chunkStream(docs, textCol, Seq(col(idCol)), chunkTokens, overlap = 0)
      .groupBy(Curation.chunkDigest.as("__d"))
      .agg(count(lit(1)).as("__c"))
    val chunkStats = chunkCounts.agg(
      sum(col("__c")).cast("long").as("n_chunk_instances"),
      count(lit(1)).cast("long").as("n_distinct_chunks"),
      sum(when(col("__c") > 1L, col("__c")).otherwise(0L))
        .cast("long").as("dup_chunk_instances"))
    docStats.crossJoin(chunkStats)
      .withColumn("dup_doc_rows", col("n_docs") - col("n_distinct_texts"))
      .select(col("n_docs"), col("n_distinct_texts"), col("dup_doc_rows"),
        col("n_chunk_instances"), col("n_distinct_chunks"),
        col("dup_chunk_instances"))
  }

  /** Pair-set evaluation for dedup-config rollouts — the gate
    * [[AnnSearch.evalRanking]] is for index configs: micro
    * precision/recall/F1 of PREDICTED near-dup pairs against a ground
    * truth (e.g. a cheap detector vs the exact verified family, or a new
    * band shape vs the old one on a golden slice). Both inputs are
    * (idACol, idBCol) frames; pairs normalize to unordered form
    * (min, max), self-pairs drop, duplicates collapse — so orientation
    * and multiplicity conventions of the two sources can differ freely.
    *
    * One row: (n_pred, n_truth, n_hit, precision, recall, f1). Counts
    * are exact integers; the three ratios are single rounded divisions
    * of those integers (f1 = 2·hit/(pred+truth) — the micro identity,
    * so no compounding float error), 0.0 sentinels when a denominator
    * is empty (never null/NaN). Both normalized pair sets are
    * localCheckpointed: each feeds its own count AND the intersection
    * join, and the upstream pair pipelines (LSH, shingle blocking) are
    * far too expensive to re-execute per consumer. */
  def evalPairs(predicted: DataFrame, truth: DataFrame,
                idACol: String = "id_a", idBCol: String = "id_b"): DataFrame = {
    def norm(df: DataFrame) = df.select(
        least(col(idACol), col(idBCol)).as("id_a"),
        greatest(col(idACol), col(idBCol)).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .transform(d => Materialize(d, CheckpointStrategy.Local))
    val p = norm(predicted)
    val t = norm(truth)
    val hits = p.join(t, Seq("id_a", "id_b"))
    p.agg(count(lit(1)).as("n_pred"))
      .crossJoin(t.agg(count(lit(1)).as("n_truth")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_pred"), col("n_truth"), col("n_hit"),
        when(col("n_pred") > 0, round(col("n_hit") / col("n_pred"), 6))
          .otherwise(0.0).as("precision"),
        when(col("n_truth") > 0, round(col("n_hit") / col("n_truth"), 6))
          .otherwise(0.0).as("recall"),
        when(col("n_pred") + col("n_truth") > 0,
          round(lit(2.0) * col("n_hit") / (col("n_pred") + col("n_truth")), 6))
          .otherwise(0.0).as("f1"))
  }

  /** The corpus-rewrite side of [[chunkDedup]]: every document keeps only
    * the chunks for which IT is the keep-first owner, and the survivors
    * re-assemble into the pruned document text (index order). Documents
    * whose every chunk was claimed elsewhere drop out entirely — exact
    * duplicates of an earlier document prune to nothing.
    *
    * Output: (id, n_total, n_kept, text_rebuilt). Plan: one chunk
    * projection, ONE window shuffle on the chunk digest (keep-first as a
    * partition-min, no agg+join round trip), one id-keyed re-assembly
    * aggregate. n_total derives from the token count projection — the
    * corpus is scanned once. */
  /** THE in-batch keep-first rule of the chunk-dedup family, single-
    * sourced like [[Curation.chunkStream]]/[[Curation.chunkDigest]]: keep
    * each distinct chunk digest's minimum packed (id, index) occurrence —
    * one window shuffle on the digest, no agg+join round trip. */
  private def keepFirstChunks(chunks: DataFrame, idCol: String,
                              maxChunksPerDoc: Long): DataFrame = {
    // struct comparison = lexicographic (id, index) order; overflow-free
    // for any id, unlike the previous id*maxChunks+index packing
    val ord = struct(col(idCol), col("chunk_index"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Curation.chunkDigest)
    chunks.withColumn("__first", min(ord).over(w))
      .where(ord === col("__first"))
      .drop("__first")
  }

  def chunkDedupRebuild(docs: DataFrame, textCol: String, idCol: String,
                        chunkTokens: Int,
                        maxChunksPerDoc: Long = 1_000_000L): DataFrame = {
    keepFirstChunks(
        Curation.chunkStream(docs, textCol, Seq(col(idCol)), chunkTokens, overlap = 0),
        idCol, maxChunksPerDoc)
      .groupBy(col(idCol), col("n_total"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_index"), col("chunk_text")))),
          s => s.getField("chunk_text")), " ").as("text_rebuilt"))
  }

  /** Corpus-overlap matrix: shingle-set Jaccard between every pair of
    * corpus groups (sources, dumps, dataset-mixture components) — the
    * dataset-level dedup diagnostic ("how much of dump B is already in
    * dump A") that decides which mixtures need document-level dedup at
    * all.
    *
    * Scale shape: distinct (group, shingle-hash) pairs (one hash-agg),
    * then a self-join on the 8-byte shingle hash. The per-shingle fan-out
    * is bounded by groups^2 — NOT document count — so unlike document
    * pair generation this join needs no frequency cap at any corpus
    * size; the group-pair aggregate is at most groups^2/2 rows. */
  def groupOverlap(docs: DataFrame, textCol: String, groupCol: String,
                   shingleLen: Int,
                   checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    // the distinct (group, shingle) frame is the dominant cost (corpus
    // scan + shingle explode + hash-agg) and feeds THREE consumers (the
    // sizes aggregate and both self-join sides) — materialize it once
    val sh = Materialize(docs.select(col(groupCol).as("__g"),
        explode(graft.fuzzy.vectorFunctions.hashed_shingle_set(
          lower(trim(col(textCol))), shingleLen)).as("__sh"))
      .distinct(), checkpoint)
    val sizes = sh.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    val common = sh.as("a").join(sh.as("b"),
        col("a.__sh") === col("b.__sh") && col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("group_a"), col("b.__g").as("group_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("__g").as("group_a"), col("__n").as("n_a")), Seq("group_a"))
      .join(sizes.select(col("__g").as("group_b"), col("__n").as("n_b")), Seq("group_b"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"), col("n_common"),
        (col("n_common") / (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
  }

  /** Distinct chunk digests of a corpus — the persistent state of
    * nightly chunk-level dedup (16 B/chunk; at scale this is the table
    * you keep bucketed via [[graft.util.BucketedTables]] so nightly runs
    * never reshuffle it). */
  def chunkDigests(docs: DataFrame, textCol: String, idCol: String,
                   chunkTokens: Int): DataFrame =
    Curation.chunkStream(docs, textCol, Seq(col(idCol)), chunkTokens, overlap = 0)
      .select(Curation.chunkDigest.as("chunk_md5"))
      .distinct()

  /** Nightly-ingest chunk dedup: a batch chunk survives iff it is the
    * batch's keep-first occurrence of its digest AND the digest is absent
    * from the corpus digest table — [[incrementalDedup]]'s exact arm at
    * [[chunkDedup]]'s sub-document granularity. One window shuffle on the
    * digest (in-batch keep-first) + one digest-keyed anti join; the
    * corpus side contributes only 16-byte digests. */
  def incrementalChunkDedup(batch: DataFrame, corpusDigests: DataFrame,
                            textCol: String, idCol: String, chunkTokens: Int,
                            maxChunksPerDoc: Long = 1_000_000L): DataFrame =
    keepFirstChunks(
        Curation.chunkStream(batch, textCol, Seq(col(idCol)), chunkTokens, overlap = 0),
        idCol, maxChunksPerDoc)
      .withColumn("chunk_md5", Curation.chunkDigest)
      .join(corpusDigests.select(col("chunk_md5")), Seq("chunk_md5"), "left_anti")
      .select(col(idCol), col("chunk_index"), col("chunk_md5"))

  // --------------------------------------------------- shingles / jaccard

  /** Distinct lowercase word n-gram shingles per document:
    * (idCol, "__shingle"), exploded. Native codegen'd kernel
    * ([[graft.fuzzy.WordShingles]]) — the equivalent
    * `transform(sequence, slice, concat_ws)` HOF pipeline evaluates its
    * lambdas interpreted and dominated the minhash stage on document-length
    * text. */
  def wordShingles(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    docs.select(col(idCol),
      explode(graft.fuzzy.vectorFunctions.word_shingles(lower(trim(col(textCol))), n))
        .as("__shingle"))

  /** Corpus-wide n-gram census: for every distinct lowercase word n-gram
    * that appears in at least `minDocs` DOCUMENTS, the document frequency
    * and the smallest containing doc id. The discovery stage of
    * exact-substring boilerplate removal (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" — the bounded word-n-gram
    * variant): repeated licence headers, navigation chrome and template
    * sentences surface as high-`doc_count` rows.
    *
    * Scale design: shingles are distinct per document
    * ([[wordShingles]]), so this is one hash-aggregate keyed by the
    * n-gram — map-side partial counts absorb the per-document repetition
    * and the shuffle carries one row per distinct (partition, n-gram).
    * No pair generation anywhere; cost is linear in corpus tokens. */
  def ngramFrequency(docs: DataFrame, textCol: String, idCol: String,
                     n: Int, minDocs: Long = 2L): DataFrame =
    wordShingles(docs, textCol, idCol, n)
      .groupBy(col("__shingle"))
      .agg(count(lit(1)).as("doc_count"), min(col(idCol)).as("first_doc"))
      .where(col("doc_count") >= minDocs)
      .select(col("__shingle").as("ngram"), col("doc_count"), col("first_doc"))

  /** Per-document boilerplate exposure: how many of the document's
    * distinct n-grams are "hot" (shared by >= `minDocs` documents,
    * per [[ngramFrequency]]), plus the document's total distinct n-gram
    * count — the flagging stage of exact-substring dedup. Downstream
    * either drops documents whose `boiler_frac` exceeds a budget or
    * routes them to span-level removal. Emits one row per document that
    * contains at least one hot n-gram.
    *
    * Scale design: the hot set is the (small) output of a linear census,
    * and re-attaching it is an equi-join on the n-gram key — with AQE the
    * post-filter hot frame broadcasts when it fits. The shingle frame is
    * computed twice (once for the census, once for the join); both are
    * single scan+project passes, and a caller looping over several
    * `minDocs` budgets should materialize `ngramFrequency` once instead. */
  def boilerplateFlags(docs: DataFrame, textCol: String, idCol: String,
                       n: Int, minDocs: Long = 2L): DataFrame =
    boilerplateFlagsAgainst(docs, ngramFrequency(docs, textCol, idCol, n, minDocs),
      textCol, idCol, n)

  /** Merge two [[ngramFrequency]] censuses over DISJOINT document sets
    * (last night's corpus census + tonight's batch census): document
    * frequencies add, first_doc takes the minimum, and the `minDocs`
    * threshold applies to the MERGED counts.
    *
    * Maintain the stored census UNTHRESHOLDED (`minDocs = 1`): a gram at
    * doc_count 1 in each of two batches is a 2-document gram after the
    * merge, so thresholding before merging silently loses exactly the
    * cross-batch boilerplate this family exists to find. Threshold at
    * read time (here, or in [[boilerplateFlagsAgainst]]'s census input).
    * Cost: one hash-aggregate over the two census frames — corpus text
    * is never rescanned. */
  def mergeCensus(a: DataFrame, b: DataFrame, minDocs: Long = 1L): DataFrame =
    a.select(col("ngram"), col("doc_count"), col("first_doc"))
      .unionByName(b.select(col("ngram"), col("doc_count"), col("first_doc")))
      .groupBy(col("ngram"))
      .agg(sum(col("doc_count")).as("doc_count"), min(col("first_doc")).as("first_doc"))
      .where(col("doc_count") >= minDocs)

  /** [[boilerplateFlags]] against an EXISTING census — the nightly-ingest
    * shape: the corpus's [[ngramFrequency]] output is computed once (or
    * maintained incrementally) and each arriving batch is flagged against
    * it without rescanning the corpus, exactly like [[incrementalDedup]]
    * reuses [[chunkDigests]]. `census` needs only its `ngram` column;
    * extra columns are ignored. */
  def boilerplateFlagsAgainst(docs: DataFrame, census: DataFrame,
                              textCol: String, idCol: String, n: Int): DataFrame = {
    val sh = wordShingles(docs, textCol, idCol, n)
    val hot = census.select(col("ngram").as("__shingle"))
    sh.join(hot, Seq("__shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("hot_ngrams"))
      .join(sh.groupBy(col(idCol)).agg(count(lit(1)).as("total_ngrams")), Seq(idCol))
      .select(col(idCol), col("hot_ngrams"),
        round(col("hot_ngrams").cast("double") / col("total_ngrams"), 6)
          .as("boiler_frac"))
  }

  /** Near-dup pair EVIDENCE for human triage: the two documents' word
    * n-gram sets merged side by side — one row per distinct shingle with
    * 0/1 membership flags, so "why did the dedup pair these?" is
    * answerable by reading the `in_a AND in_b` rows (and the jaccard /
    * containment denominators are the flag sums). Readable text shingles,
    * deliberately NOT the 8-byte hashes the pair generators block on.
    * Tiny by construction (two documents); runs anywhere, any scale. */
  def explainPair(docs: DataFrame, textCol: String, idCol: String,
                  idA: Long, idB: Long, n: Int): DataFrame =
    wordShingles(docs.where(col(idCol).isin(idA, idB)), textCol, idCol, n)
      .groupBy(col("__shingle").as("ngram"))
      .agg(max(when(col(idCol) === idA, 1L).otherwise(0L)).as("in_a"),
        max(when(col(idCol) === idB, 1L).otherwise(0L)).as("in_b"))

  /** Exact duplicated-span REMOVAL — the rewrite stage of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499), in its bounded word-n-gram form: every occurrence
    * of a `spanLen`-word window whose lowercase form appears at least
    * `minCount` times in the corpus (occurrence count, so a passage pasted
    * twice into ONE document is also cut) is removed from the text EXCEPT
    * the globally-first occurrence — smallest `(docId, position)` — and
    * overlapping duplicated windows merge into one removed span through the
    * covered-position set. [[ngramFrequency]]/[[boilerplateFlags]] are the
    * discovery/flagging stages of this family; this operator actually
    * produces the cleaned corpus.
    *
    * Output: one row per input document, `(idCol, text_clean, n_removed)`.
    * `text_clean` joins the surviving words with single spaces (whitespace
    * is canonicalized; the match key is the lowercase window but surviving
    * words keep their original case), `n_removed` counts removed word
    * positions. Documents shorter than `spanLen` words pass through
    * (modulo whitespace collapse); empty documents yield `''`. Like the
    * reference method this is single-pass: words made adjacent by a cut
    * are NOT re-examined for new duplicate windows.
    *
    * Scale design: gram building is a per-row projection over the split
    * word array (`transform` over a window index sequence — the word
    * stream is never exploded), so the only corpus-sized shuffles are
    * (1) the gram census aggregate — a SortAggregate, because
    * `min(struct(doc, pos))` needs an ordered buffer, but still with
    * map-side partial combine, so the exchange carries one row per
    * distinct (partition, gram) and the per-partition sort is the only
    * cost over a hash-agg — and (2) the occurrence↔census equi-join on
    * the gram key that locates non-first occurrences — census rows exist
    * only for grams with `count >= minCount`, so on real corpora the
    * census side is orders of magnitude smaller than the corpus and AQE
    * turns the join into a broadcast (verified in the sf0.01-sf10 plans).
    * The rebuild is NOT a token shuffle: removed window starts collapse
    * to a per-document covered-position array (bounded by document
    * length), which joins back BY ID — broadcast in the measured plans —
    * and drives one index-filtered `transform` projection per document. */
  def spanRewrite(docs: DataFrame, textCol: String, idCol: String,
                  spanLen: Int, minCount: Long = 2L,
                  checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
                  hashGrams: Boolean = false): DataFrame = {
    require(spanLen >= 1, s"spanRewrite needs spanLen >= 1 (got $spanLen)")
    require(minCount >= 2L, s"spanRewrite needs minCount >= 2 (got $minCount)")
    val words = spanWords(docs, textCol, idCol, checkpoint)
    val grams = spanGrams(words, idCol, spanLen, hashGrams)

    // first = smallest (doc, pos) occurrence; struct min IS that
    // lexicographic order
    val census = grams.groupBy(col("__gram"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col(idCol).as("d"), col("__pos").as("p"))).as("__first"))
      .where(col("__c") >= minCount)
      .select(col("__gram"), col("__first"))

    val removed = grams.join(census, Seq("__gram"))
      .where(!(col(idCol) === col("__first.d") && col("__pos") === col("__first.p")))
    spanRebuild(words, idCol, removed, spanLen)
  }

  /** The nightly-ingest form of [[spanRewrite]] (same batch/corpus split
    * as [[boilerplateFlagsAgainst]] and [[incrementalDedup]]): cut from
    * the BATCH every occurrence of a window whose lowercase form exists
    * in an already-ingested corpus's census — the corpus keeps its copy,
    * so, unlike the full rewrite, no first-occurrence ranking is needed
    * and the corpus is never rescanned per batch. `census` is
    * [[ngramFrequency]] output (built once per corpus version with
    * `n = spanLen`, `minDocs = 1`, then persisted); only its `ngram`
    * column is read, and the census's short-document collapsed shingles
    * can never match a full `spanLen`-word batch window, so they are
    * harmless in the membership probe. Within-batch duplication is out of
    * scope here — run the batch through [[spanRewrite]] first (or after)
    * when the batch can self-duplicate. */
  def spanRewriteAgainst(batch: DataFrame, census: DataFrame,
                         textCol: String, idCol: String, spanLen: Int,
                         checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
                         hashGrams: Boolean = false): DataFrame = {
    require(spanLen >= 1, s"spanRewriteAgainst needs spanLen >= 1 (got $spanLen)")
    val words = spanWords(batch, textCol, idCol, checkpoint)
    val censusGrams =
      if (hashGrams) census.select(xxhash64(col("ngram")).as("__gram"))
      else census.select(col("ngram").as("__gram"))
    val removed = spanGrams(words, idCol, spanLen, hashGrams)
      .join(censusGrams, Seq("__gram"))
    spanRebuild(words, idCol, removed, spanLen)
  }

  /** C4-style LINE-level dedup rewrite: every occurrence of a line whose
    * trimmed-lowercase form appears at least `minCount` times in the
    * corpus is cut EXCEPT the globally-first (smallest (doc, position)),
    * and surviving lines keep their ORIGINAL bytes and order — unlike
    * the word-window [[spanRewrite]], nothing is re-tokenized or
    * whitespace-canonicalized, so diff-friendliness against the source
    * text is preserved. Blank/whitespace-only lines are never match
    * keys (every boilerplate corpus repeats them; cutting them would
    * glue paragraphs). Output (idCol, text_clean, n_removed — removed
    * LINE count). On a corpus whose "lines" are derived token chunks
    * this collapses into [[chunkDedupRebuild]]'s semantics; this
    * operator exists for NATURAL newline structure (crawl text,
    * licence headers, navigation chrome). Same shuffle shape as the
    * span family: one census aggregate + one occurrence↔census join,
    * rebuild via bounded per-doc position sets — no line-level shuffle
    * for the rebuild. DuckDB-oracled via `dedup_line_rewrite`, which
    * synthesizes a deterministic 4-line-per-doc fixture (the driver
    * corpus is single-line) and replays the census/rank/cut in SQL. */
  def lineDedupRewrite(docs: DataFrame, textCol: String, idCol: String,
                       minCount: Long = 2L,
                       checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    require(minCount >= 2L, s"lineDedupRewrite needs minCount >= 2 (got $minCount)")
    val lines = Materialize(
      spread(docs).select(col(idCol), split(col(textCol), "\n").as("__ls")),
      checkpoint)
    val occ = lines.select(col(idCol), posexplode(col("__ls")))
      .toDF(idCol, "__pos", "__line")
      .withColumn("__key", lower(trim(col("__line"))))
      .where(col("__key") =!= "")
    val census = occ.groupBy(col("__key"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col(idCol).as("d"), col("__pos").as("p"))).as("__first"))
      .where(col("__c") >= minCount)
      .select(col("__key"), col("__first"))
    val covered = occ.join(census, Seq("__key"))
      .where(!(col(idCol) === col("__first.d") && col("__pos") === col("__first.p")))
      .groupBy(col(idCol))
      .agg(collect_set(col("__pos")).as("__cov"))
    lines.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__cov").isNull, concat_ws("\n", col("__ls")))
          .otherwise(concat_ws("\n",
            transform(
              array_except(sequence(lit(0), size(col("__ls")) - 1), col("__cov")),
              p => element_at(col("__ls"), p + 1))))
          .as("text_clean"),
        when(col("__cov").isNull, lit(0L))
          .otherwise(size(col("__cov")).cast("long")).as("n_removed"))
  }

  // (id, ws): split once; multi-consumer (gram pass + rebuild), so the
  // barrier stops the text from being re-split per consumer
  private def spanWords(docs: DataFrame, textCol: String, idCol: String,
                        checkpoint: CheckpointStrategy): DataFrame =
    Materialize(
      spread(docs).select(col(idCol),
        filter(split(trim(col(textCol)), "\\s+"), w => w =!= "").as("__ws")),
      checkpoint)

  // (id, pos, gram): window starts 0..len-spanLen, built inside one
  // projection — guard the sequence: Spark's sequence(0, negative) counts
  // DOWN, so short docs must yield an empty gram array, not [0, -1, ...].
  // `hashGrams` replaces the gram text with its 64-bit xxhash INSIDE the
  // projection, so the census exchange and the occurrence join carry
  // 8-byte keys instead of spanLen-word strings — the 100 TB shuffle
  // diet, at a ~n²/2⁶⁵ false-merge probability per distinct-gram pair
  // (Lee et al. hash their substrings the same way). The oracled queries
  // keep string keys; SpanRewriteSpec pins hash/string agreement.
  private def spanGrams(words: DataFrame, idCol: String, spanLen: Int,
                        hashGrams: Boolean = false): DataFrame = {
    val gram = (i: Column) =>
      lower(concat_ws(" ", slice(col("__ws"), i + 1, lit(spanLen))))
    val key = if (hashGrams) (i: Column) => xxhash64(gram(i)) else gram
    words.select(col(idCol),
      posexplode(
        when(size(col("__ws")) < spanLen,
          array().cast(if (hashGrams) "array<bigint>" else "array<string>"))
          .otherwise(transform(
            sequence(lit(0), size(col("__ws")) - spanLen), key))))
      .toDF(idCol, "__pos", "__gram")
  }

  // collapse removed window starts (id, __pos) to one bounded
  // covered-position array per doc, then cut in a single projection — the
  // rebuild never shuffles tokens. Kept positions come from array_except
  // (hash-set lookup, O(len + |cov|)) rather than a per-word
  // array_contains scan, which would be O(len * |cov|) — quadratic on
  // exactly the mostly-boilerplate long documents this operator targets
  // (the swap measured 3x on sf10 span_inc; SCALE.md).
  private def spanRebuild(words: DataFrame, idCol: String,
                          removed: DataFrame, spanLen: Int): DataFrame = {
    val covered = removed
      .select(col(idCol), explode(sequence(col("__pos"), col("__pos") + (spanLen - 1))).as("__cp"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__cp")).as("__cov"))
    words.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__cov").isNull, concat_ws(" ", col("__ws")))
          .otherwise(concat_ws(" ",
            transform(
              array_except(sequence(lit(0), size(col("__ws")) - 1), col("__cov")),
              p => element_at(col("__ws"), p + 1))))
          .as("text_clean"),
        when(col("__cov").isNull, lit(0L))
          .otherwise(size(col("__cov")).cast("long")).as("n_removed"))
  }

  /** Per-document sorted distinct shingle-hash sets: (idCol, __hset). One
    * narrow codegen projection (8 B/shingle), materialized once — the
    * shared verify frame for [[ngramJaccardPairs]] and
    * [[minhashLshVerifiedPairs]]: candidate pairs re-attach the two sets BY
    * ID and the intersection runs in one merge pass per pair, instead of a
    * per-(id, shingle) join where a boilerplate-heavy document re-creates a
    * hot key. */
  private def shingleSets(docs: DataFrame, textCol: String, idCol: String, n: Int,
                          checkpoint: CheckpointStrategy): DataFrame =
    Materialize(
      spread(docs).select(col(idCol),
        graft.fuzzy.vectorFunctions.hashed_shingle_set(lower(trim(col(textCol))), n)
          .as("__hset")),
      checkpoint)

  /** Exact shingle-set jaccard for candidate `pairs` (id_a, id_b): both
    * sets re-attach by id from the materialized `sets` frame, the
    * intersection is a codegen'd merge pass once per pair, and only pairs
    * at `jaccard >= threshold` survive. Jaccard is computed over the FULL
    * sets, so any candidate the blocking stage surfaces gets its exact
    * score regardless of what the blocking dropped. */
  private def verifyJaccard(pairs: DataFrame, sets: DataFrame, idCol: String,
                            threshold: Double): DataFrame =
    verifyJaccardSided(pairs, sets, sets, idCol, threshold)

  private def verifyJaccardSided(pairs: DataFrame, setsA: DataFrame,
                                 setsB: DataFrame, idCol: String,
                                 threshold: Double): DataFrame =
    verifyScoredSided(pairs, setsA, setsB, idCol, "jaccard",
      (common, sa, sb) => common / (sa + sb - common), threshold)

  /** Shared verify shape: re-attach both full shingle sets by id, count the
    * intersection with one codegen'd merge pass, derive the score from
    * (common, |A|, |B|) and threshold it. Factored so jaccard and
    * containment share the identical join/intersect plan. */
  private def verifyScoredSided(pairs: DataFrame, setsA: DataFrame,
                                setsB: DataFrame, idCol: String,
                                scoreName: String,
                                score: (Column, Column, Column) => Column,
                                threshold: Double): DataFrame =
    pairs
      .join(setsA.select(col(idCol).as("id_a"), col("__hset").as("__ha")), Seq("id_a"))
      .join(setsB.select(col(idCol).as("id_b"), col("__hset").as("__hb")), Seq("id_b"))
      .withColumn("__common",
        graft.fuzzy.vectorFunctions.sorted_intersect_count(col("__ha"), col("__hb")))
      .withColumn(scoreName,
        score(col("__common"), size(col("__ha")).cast("double"),
          size(col("__hb")).cast("double")))
      .where(col(scoreName) >= threshold)
      .select(col("id_a"), col("id_b"), col(scoreName))

  /** Document-frequency gate on exploded (id, __sh) shingle rows — the
    * skew guard for shared-shingle blocking. A shingle appearing in n
    * documents puts n·(n-1)/2 candidate pairs on ONE reducer key, so
    * shingles whose pair contribution exceeds `maxShinglePairs` are dropped
    * from PAIR GENERATION only (scores of surviving candidates stay exact —
    * the verify uses full sets). The gate is the single-key
    * [[Blocking.self]] gate priced by [[Blocking.Pairs]]: same regimes,
    * same accounting as every LSH bucket cap. `Long.MaxValue` disables the
    * gate entirely: no stats job runs and no stage is recorded. */
  private def gateHotShingles(exploded: DataFrame, stage: String,
                              maxShinglePairs: Long,
                              checkpoint: CheckpointStrategy): DataFrame =
    if (maxShinglePairs == Long.MaxValue) exploded
    else Blocking.self(exploded, stage, None, "__sh", maxShinglePairs, checkpoint,
      Blocking.Pairs).keep(exploded)

  /** Shared self-join blocking scaffold of [[ngramJaccardPairs]] and
    * [[containmentPairs]] — shingle sets, the materialized exploded rows,
    * the hot gate, the shared-shingle self-join, pair dedup; the self twin
    * of [[crossBlockedCandidates]]. Returns (candidate id pairs, sets). */
  private def selfBlockedCandidates(docs: DataFrame, textCol: String, idCol: String,
                                    n: Int, stage: String,
                                    checkpoint: CheckpointStrategy,
                                    maxShinglePairs: Long): (DataFrame, DataFrame) = {
    val sets = shingleSets(docs, textCol, idCol, n, checkpoint)
    // the exploded (id, shingle) rows feed the gate's df census AND both
    // sides of the blocking self-join — three computes of a corpus-sized
    // explode if left lazy (the multi-consumer trap; A/B in SCALE.md)
    val exploded = Materialize(
      sets.select(col(idCol), explode(col("__hset")).as("__sh")), checkpoint)
    val gated = gateHotShingles(exploded, stage, maxShinglePairs, checkpoint)
    val pairs = gated.as("a").join(gated.as("b"),
        col("a.__sh") === col("b.__sh") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    (pairs, sets)
  }

  /** Exact n-gram Jaccard near-duplicate pairs (id_a < id_b, jaccard >=
    * threshold). Pair generation is blocked on shared shingles: the
    * self-join shuffles on the 8-byte shingle-hash key, so only documents
    * sharing at least one shingle ever meet — no cartesian product — and
    * shingles hotter than `maxShinglePairs` are dropped from blocking
    * (accounted, see [[gateHotShingles]]) so one boilerplate shingle shared
    * by n documents cannot put n²/2 pairs on a single reducer. Surviving
    * pairs are scored EXACTLY over their full shingle sets; recall is only
    * lost for pairs whose every shared shingle is hot (route such corpora
    * to [[minhashLshVerifiedPairs]] — same ground truth, capped buckets). */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        n: Int, threshold: Double,
                        checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
                        maxShinglePairs: Long = 4_000_000L): DataFrame = {
    val (pairs, sets) = selfBlockedCandidates(docs, textCol, idCol, n,
      "dedup_ngram", checkpoint, maxShinglePairs)
    verifyJaccard(pairs, sets, idCol, threshold)
  }

  /** Exact n-gram CONTAINMENT near-duplicate pairs (id_a < id_b,
    * containment >= threshold), where containment = |A∩B| / min(|A|, |B|)
    * — the asymmetric-overlap signal jaccard structurally misses: a short
    * document quoted verbatim inside a much larger one scores 1.0 here
    * while its jaccard is ≈ |A|/|B| (arbitrarily small), so a
    * jaccard-thresholded dedup never pairs them. This is the standard
    * quote/subset-inclusion detector for crawl corpora (nested page
    * scrapes, quoted e-mail chains, article + article-with-commentary).
    *
    * Plan shape is identical to [[ngramJaccardPairs]]: shared-shingle
    * blocking join on the 8-byte shingle-hash key (no cartesian), hot
    * shingles over `maxShinglePairs` dropped from pair generation with
    * CapMetrics accounting (stage `dedup_containment`), and survivors
    * scored EXACTLY over their full shingle sets. Recall caveat is also
    * identical — plus one containment-specific note: a tiny doc whose few
    * shingles are ALL boilerplate-hot has every blocking path gated; such
    * corpora should lower the shingle length (more, rarer shingles per
    * doc). Minhash-banded candidates are NOT the escape hatch here: band
    * collision probability is governed by jaccard, and the asymmetric
    * pairs this operator exists for have jaccard ≈ |A|/|B| — exactly the
    * pairs banding misses. Shared-shingle blocking IS the containment
    * scale path. */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       n: Int, threshold: Double,
                       checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
                       maxShinglePairs: Long = 4_000_000L): DataFrame = {
    val (pairs, sets) = selfBlockedCandidates(docs, textCol, idCol, n,
      "dedup_containment", checkpoint, maxShinglePairs)
    verifyScoredSided(pairs, sets, sets, idCol, "containment",
      (common, sa, sb) => common / least(sa, sb), threshold)
  }

  /** Exact n-gram CONTAINMENT pairs ACROSS two frames — (id_a from
    * `left`, id_b from `right`, containment = |A∩B| / min(|A|,|B|) >=
    * threshold), id spaces disjoint by contract. The decontamination /
    * nightly-quote shape: a benchmark passage or boilerplate block
    * quoted verbatim inside an arriving document scores 1.0 here while
    * its jaccard is ≈ |A|/|B| — see [[containmentPairs]] for why banded
    * LSH is NOT the escape hatch for this signal. Plan shape is
    * [[ngramJaccardCrossPairs]]: cross-side shared-shingle blocking
    * (cost Σ dfL·dfR per shingle, never Σ df²), the cross hot gate
    * (stage `dedup_containment_cross`), exact scoring of survivors. */
  def containmentCrossPairs(left: DataFrame, right: DataFrame,
                            textCol: String, idCol: String,
                            n: Int, threshold: Double,
                            checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
                            maxShinglePairs: Long = 4_000_000L): DataFrame = {
    val (pairs, setsL, setsR) = crossBlockedCandidates(left, right, textCol,
      idCol, n, "dedup_containment_cross", checkpoint, maxShinglePairs)
    verifyScoredSided(pairs, setsL, setsR, idCol, "containment",
      (common, sa, sb) => common / least(sa, sb), threshold)
  }

  /** Persist a containment corpus state — the [[saveMinhashState]] /
    * [[saveWinnowState]] treatment for the quote/subset-inclusion
    * detector, so the nightly [[containmentCrossPairs]] check reads
    * neither corpus text nor whole state per trigger. Containment's
    * blocking key is the raw SHINGLE (banding is structurally wrong
    * here — band collision probability follows jaccard, and the
    * asymmetric pairs this family exists for have jaccard ≈ |A|/|B|),
    * so the layout marries the winnow store's fingerprint-bucketed
    * blocking half with the minhash store's id-bucketed verify half:
    *
    *  - `shingles/bucket=N/` — (id, __sh), bucket = hash(__sh) mod
    *    nBuckets: the batch's shingles touch ≤ min(batch shingles,
    *    nBuckets) directories, and the shared-shingle join reads only
    *    those.
    *  - `stats/bucket=N/` — per-shingle corpus document frequency, so
    *    the cross hot gate prices a batch from stats alone.
    *  - `hsets/hbucket=M/` — (id, __hset) keyed by hash(id) mod
    *    nBuckets: the exact containment verify reads only the
    *    candidate corpus ids' partitions.
    *  - `meta/` — n (shingle length), nBuckets: the sketch parameter IS
    *    the layout; threshold stays a query-time knob.
    *
    * Refreshes are generation-flipped with the shared `graceGens`
    * contract ([[saveHammingState]] scaladoc). */
  def saveContainmentState(corpus: DataFrame, textCol: String, idCol: String,
                           path: String, n: Int = 3,
                           nBuckets: Int = 64, graceGens: Int = 1): Unit = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    val spark = corpus.sparkSession
    writeGenerationFlipped(spark, path, graceGens, "saveContainmentState") { genPath =>
      // ONE execution of the corpus shingle lineage: (id, __hset) staged
      // to parquet, shingles/stats/hsets all derive from the WRITTEN file
      val stagePath = s"$genPath/state_raw"
      shingleSets(corpus, textCol, idCol, n, CheckpointStrategy.Local)
        .select(col(idCol).as("id"), col("__hset"))
        .write.mode("overwrite").parquet(stagePath)
      val state = spark.read.parquet(stagePath)
      val sh = state.select(col("id"), explode(col("__hset")).as("__sh"))
        .withColumn("bucket", winnowFpBucket(nBuckets))
      sh.limit(0).write.mode("overwrite").parquet(s"$genPath/schema_shingles")
      sh.repartition(nBuckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$genPath/shingles")
      spark.read.schema(storedSchema(spark, s"$genPath/schema_shingles"))
        .parquet(s"$genPath/shingles")
        .groupBy(col("bucket"), col("__sh"))
        .agg(count(lit(1)).as("__dfr"))
        .repartition(nBuckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$genPath/stats")
      val hsets = state.withColumn("hbucket", minhashIdBucket(col("id"), nBuckets))
      hsets.limit(0).write.mode("overwrite").parquet(s"$genPath/schema_hsets")
      hsets.repartition(nBuckets, col("hbucket"))
        .write.mode("overwrite").partitionBy("hbucket")
        .parquet(s"$genPath/hsets")
      import spark.implicits._
      Seq((n, nBuckets)).toDF("n", "n_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$genPath/meta")
      val (fs, _) = DurableIndex.qualified(spark, path)
      fs.delete(fs.makeQualified(new org.apache.hadoop.fs.Path(stagePath)), true)
    }
  }

  /** A stored containment corpus state ([[saveContainmentState]] layout). */
  final case class StoredContainmentState(shingles: DataFrame, stats: DataFrame,
                                          hsets: DataFrame, n: Int, nBuckets: Int)

  def loadContainmentState(spark: org.apache.spark.sql.SparkSession,
                           path: String): StoredContainmentState = {
    val (fs, root) = DurableIndex.qualified(spark, path)
    val live = liveHammingGen(fs, root).getOrElse(throw new IllegalArgumentException(
      s"containment state at $path has no committed generation (never " +
        "saved, or every save/refresh died mid-write) — run saveContainmentState"))
    val genPath = s"$path/${live.getName}"
    val m = spark.read.parquet(s"$genPath/meta").head()
    val shSchema = storedSchema(spark, s"$genPath/schema_shingles")
    val statsSchema = org.apache.spark.sql.types.StructType(
      shSchema.filter(f => f.name == "__sh" || f.name == "bucket") :+
        org.apache.spark.sql.types.StructField("__dfr",
          org.apache.spark.sql.types.LongType, nullable = false))
    StoredContainmentState(
      spark.read.schema(shSchema).parquet(s"$genPath/shingles"),
      spark.read.schema(statsSchema).parquet(s"$genPath/stats"),
      spark.read.schema(storedSchema(spark, s"$genPath/schema_hsets"))
        .parquet(s"$genPath/hsets"),
      m.getAs[Int]("n"), m.getAs[Int]("n_buckets"))
  }

  /** [[containmentCrossPairs]] against a STORED state: per-trigger
    * corpus I/O is proportional to the shingle buckets the batch
    * touches, not the store. Three pruned reads, the
    * [[minhashPairsAgainstStored]] recipe on the shingle key:
    *  1. the batch's distinct shingle buckets (bounded collect, ≤
    *     nBuckets values) partition-filter the `shingles/` read;
    *  2. the same filter prices the cross hot gate from the `stats/`
    *     table alone (dfRPre — no shingle-row scan to decide);
    *  3. the surviving candidate pairs' corpus ids partition-filter the
    *     `hsets/` read for the exact containment verify.
    * Output identical to the in-memory form on the same n (spec-pinned;
    * the oracled twin shares `dedup_containment_inc`'s oracle
    * verbatim). Batch/corpus ids disjoint by the same contract. */
  def containmentPairsAgainstStored(batch: DataFrame, textCol: String, idCol: String,
                                    stored: StoredContainmentState,
                                    threshold: Double = 0.6,
                                    maxShinglePairs: Long = 4_000_000L,
                                    checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    val bSets = shingleSets(batch, textCol, idCol, stored.n, checkpoint)
    val eB = bSets.select(col(idCol), explode(col("__hset")).as("__sh"))
    // pruned read 1: only the batch's touched shingle buckets
    val touched = eB.select(winnowFpBucket(stored.nBuckets).as("bucket"))
      .distinct().collect().map(_.getLong(0)).map(b => b: Any)
    val cSh = stored.shingles.where(col("bucket").isin(touched: _*)).drop("bucket")
    val cStats = stored.stats.where(col("bucket").isin(touched: _*)).drop("bucket")
    // pruned read 2: the cross gate priced from batch dfs x stored stats
    val (gB, gC) = gateHotShinglesCross(eB, cSh, "dedup_containment_stored",
      maxShinglePairs, checkpoint, dfRPre = Some(cStats))
    val pairs = Materialize(gB.as("a").join(gC.as("b"),
        col("a.__sh") === col("b.__sh"))
      .select(col(s"a.$idCol").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b"), checkpoint)
    // pruned read 3: only the candidate corpus ids' hset partitions
    val touchedH = pairs.select(
        minhashIdBucket(col("id_b"), stored.nBuckets).as("hbucket"))
      .distinct().collect().map(_.getLong(0)).map(b => b: Any)
    val cHsets = stored.hsets.where(col("hbucket").isin(touchedH: _*))
      .select(col("id").as(idCol), col("__hset"))
    verifyScoredSided(pairs, bSets, cHsets, idCol, "containment",
      (common, sa, sb) => common / least(sa, sb), threshold)
  }

  /** Shared cross-side blocking scaffold of [[ngramJaccardCrossPairs]]
    * and [[containmentCrossPairs]] — shingle sets per side, exploded
    * rows, the cross hot gate, the shared-shingle join, pair dedup.
    * Factored for the same reason as [[verifyScoredSided]]: the two
    * cross operators must share one blocking plan or they drift.
    * Returns (candidate id pairs, left sets, right sets). */
  private def crossBlockedCandidates(left: DataFrame, right: DataFrame,
                                     textCol: String, idCol: String,
                                     n: Int, stage: String,
                                     checkpoint: CheckpointStrategy,
                                     maxShinglePairs: Long
                                    ): (DataFrame, DataFrame, DataFrame) = {
    val setsL = shingleSets(left, textCol, idCol, n, checkpoint)
    val setsR = shingleSets(right, textCol, idCol, n, checkpoint)
    val eL = setsL.select(col(idCol), explode(col("__hset")).as("__sh"))
    val eR = setsR.select(col(idCol), explode(col("__hset")).as("__sh"))
    val (gL, gR) = gateHotShinglesCross(eL, eR, stage, maxShinglePairs, checkpoint)
    val pairs = gL.as("a").join(gR.as("b"), col("a.__sh") === col("b.__sh"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    (pairs, setsL, setsR)
  }

  /** Exact n-gram Jaccard near-duplicate pairs ACROSS two frames —
    * (id_a from `left`, id_b from `right`, jaccard >= threshold), id
    * spaces disjoint by contract. The blocking join pairs left shingle
    * rows only with RIGHT rows of the same shingle, so same-side pairs
    * never exist: plan cost is sum over shingles of dfL*dfR, not
    * (dfL+dfR)^2/2. For a 10% nightly batch against its corpus that
    * deletes ~99% of the candidate volume the union-self-join plan
    * scored and then discarded — the sf10 scale run measured
    * [[incrementalDedup]] dropping 274.7 s -> see SCALE.md after this
    * rewrite. Hot shingles cap on the CROSS pair product dfL*dfR
    * (CapMetrics stage `dedup_ngram_cross`; drops cost recall only for
    * pairs whose every shared shingle is hot, as in the self-join
    * variant). */
  def ngramJaccardCrossPairs(left: DataFrame, right: DataFrame,
                             textCol: String, idCol: String,
                             n: Int, threshold: Double,
                             checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
                             maxShinglePairs: Long = 4_000_000L): DataFrame = {
    val (pairs, setsL, setsR) = crossBlockedCandidates(left, right, textCol,
      idCol, n, "dedup_ngram_cross", checkpoint, maxShinglePairs)
    verifyJaccardSided(pairs, setsL, setsR, idCol, threshold)
  }

  /** Cross-side sibling of [[gateHotShingles]]: a shingle shared by dfL
    * left and dfR right docs contributes dfL*dfR candidate pairs on one
    * reducer key, so shingles over the pair budget are dropped from pair
    * generation on BOTH sides (scores of survivors stay exact). The
    * single-key [[Blocking.cross]] gate. `dfRPre` supplies a PRECOMPUTED
    * right-side (`__sh`, `__dfr`) frame — the stored-state query paths
    * price the gate from their store's stats table instead of rescanning
    * the right rows. */
  private def gateHotShinglesCross(eL: DataFrame, eR: DataFrame, stage: String,
                                   maxShinglePairs: Long,
                                   checkpoint: CheckpointStrategy,
                                   dfRPre: Option[DataFrame] = None): (DataFrame, DataFrame) =
    if (maxShinglePairs == Long.MaxValue) (eL, eR)
    else {
      val gate = Blocking.cross(eL, eR, stage, None, "__sh", maxShinglePairs, checkpoint, dfRPre)
      (gate.keep(eL), gate.keep(eR))
    }

  // ------------------------------------------------------------- winnow

  /** Substring-overlap near-duplicate pairs via winnowing fingerprints
    * (id_a < id_b, n_shared >= minShared): documents sharing at least
    * `minShared` distinct window-minimum k-gram hashes
    * ([[TextAnalysis.winnowFingerprints]] — the MOSS sketch). This catches
    * LIFTED PASSAGES — a paragraph pasted into otherwise-different
    * documents — which whole-document jaccard dilutes below any usable
    * threshold and embedding cosine blurs entirely.
    *
    * Same plan family as [[ngramJaccardPairs]]: blocking self-join on the
    * 8-byte fingerprint key, hot fingerprints dropped from pair
    * generation by the df gate (`[graft.cap] dedup_winnow`), shared-count
    * aggregation on the deduped pair key. The sketch is ~|doc|/window
    * fingerprints, so the exploded frame is a window-factor smaller than
    * the full k-gram set. */
  def winnowOverlapPairs(docs: DataFrame, textCol: String, idCol: String,
                         k: Int = 5, window: Int = 4, minShared: Long = 8L,
                         maxFingerprintPairs: Long = 4_000_000L,
                         useMd5: Boolean = false,
                         checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    // materialize once: the df-gate aggregate and both self-join sides
    // would otherwise each rebuild the k-gram + window-min sketch
    val exploded = winnowState(docs, textCol, idCol, k, window, useMd5, checkpoint)
    val gated = gateHotShingles(exploded, "dedup_winnow", maxFingerprintPairs,
      checkpoint)
    gated.as("a").join(gated.as("b"),
        col("a.__sh") === col("b.__sh") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** The winnow corpus STATE: one (idCol, `__sh`) row per distinct
    * window-minimum fingerprint of each document — what
    * [[winnowOverlapPairs]] explodes internally, exposed as the stored
    * frame of the nightly lifted-passage check ([[winnowCrossPairs]]).
    * Append-only by construction (per-document rows, no cross-document
    * aggregates) — the [[minhashState]] maintenance contract: append
    * accepted batches' own rows after flagging, and erasure is an exact
    * anti-join on idCol. */
  def winnowState(docs: DataFrame, textCol: String, idCol: String,
                  k: Int = 5, window: Int = 4, useMd5: Boolean = false,
                  checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame =
    Materialize(
      spread(docs).select(col(idCol),
        explode(TextAnalysis.winnowFingerprints(col(textCol), k, window, useMd5))
          .as("__sh")),
      checkpoint)

  /** Nightly lifted-passage flags: `batch` documents vs a STORED corpus
    * [[winnowState]] — (id_a from batch, id_b from corpus, n_shared >=
    * minShared), ids disjoint by contract, NO corpus text read. The
    * [[ngramJaccardCrossPairs]] cross-side rule on the fingerprint key:
    * batch fingerprint rows join ONLY corpus rows of the same
    * fingerprint (cost Σ dfBatch·dfCorpus per fingerprint, never Σ df²)
    * and [[gateHotShinglesCross]] caps the cross product
    * (stage `dedup_winnow_cross`). `k`/`window`/`useMd5` must
    * match the state's construction. */
  def winnowCrossPairs(batch: DataFrame, corpusState: DataFrame,
                       textCol: String, idCol: String,
                       k: Int = 5, window: Int = 4, minShared: Long = 8L,
                       maxFingerprintPairs: Long = 4_000_000L,
                       useMd5: Boolean = false,
                       checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    val eB = winnowState(batch, textCol, idCol, k, window, useMd5, checkpoint)
    val (gB, gC) = gateHotShinglesCross(eB, corpusState, "dedup_winnow_cross",
      maxFingerprintPairs, checkpoint)
    gB.as("a").join(gC.as("b"), col("a.__sh") === col("b.__sh"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Fingerprint-bucket expression shared by the stored winnow state's
    * writer and its query-time pruning — MUST stay identical. */
  private def winnowFpBucket(nBuckets: Int): Column =
    pmod(xxhash64(col("__sh")), lit(nBuckets.toLong))

  /** Persist a winnow corpus state FINGERPRINT-BUCKETED — the
    * [[saveMinhashState]] treatment applied to the lifted-passage
    * detector, completing the stored-state trio's fourth member:
    * [[winnowCrossPairs]] already never reads corpus text, but its state
    * frame is scanned whole per trigger. Layout under the shared
    * generation-flip harness ([[saveHammingState]] graceGens contract):
    *
    *  - `fps/bucket=N/` — (id, __sh), bucket = hash(__sh) mod nBuckets:
    *    a batch's fingerprints touch ≤ min(batch sketch, nBuckets)
    *    directories, and the shared-fingerprint join reads only those.
    *  - `stats/bucket=N/` — per-fingerprint corpus document frequency,
    *    so the cross-side hot gate prices a batch from the stats table
    *    alone (no fps-row scan to decide).
    *  - `meta/` — k, window, useMd5, nBuckets: the sketch parameters ARE
    *    the layout; thresholds stay query-time knobs. */
  def saveWinnowState(corpus: DataFrame, textCol: String, idCol: String,
                      path: String, k: Int = 5, window: Int = 4,
                      useMd5: Boolean = false,
                      nBuckets: Int = 64, graceGens: Int = 1): Unit = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(window >= 1, s"window must be >= 1 (got $window)")
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    val spark = corpus.sparkSession
    writeGenerationFlipped(spark, path, graceGens, "saveWinnowState") { genPath =>
      // ONE execution of the corpus sketch lineage: fps staged to
      // parquet, stats derive from the WRITTEN file
      val fps = spread(corpus).select(col(idCol).as("id"),
          explode(TextAnalysis.winnowFingerprints(col(textCol), k, window, useMd5))
            .as("__sh"))
        .withColumn("bucket", winnowFpBucket(nBuckets))
      fps.limit(0).write.mode("overwrite").parquet(s"$genPath/schema_fps")
      fps.repartition(nBuckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$genPath/fps")
      spark.read.schema(storedSchema(spark, s"$genPath/schema_fps"))
        .parquet(s"$genPath/fps")
        .groupBy(col("bucket"), col("__sh"))
        .agg(count(lit(1)).as("__dfr"))
        .repartition(nBuckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$genPath/stats")
      import spark.implicits._
      Seq((k, window, useMd5, nBuckets))
        .toDF("k", "window", "use_md5", "n_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$genPath/meta")
    }
  }

  /** A stored winnow corpus state ([[saveWinnowState]] layout). */
  final case class StoredWinnowState(fps: DataFrame, stats: DataFrame,
                                     k: Int, window: Int, useMd5: Boolean,
                                     nBuckets: Int)

  def loadWinnowState(spark: org.apache.spark.sql.SparkSession,
                      path: String): StoredWinnowState = {
    val (fs, root) = DurableIndex.qualified(spark, path)
    val live = liveHammingGen(fs, root).getOrElse(throw new IllegalArgumentException(
      s"winnow state at $path has no committed generation (never saved, " +
        "or every save/refresh died mid-write) — run saveWinnowState"))
    val genPath = s"$path/${live.getName}"
    val m = spark.read.parquet(s"$genPath/meta").head()
    val sch = storedSchema(spark, s"$genPath/schema_fps")
    val statsSchema = org.apache.spark.sql.types.StructType(
      sch.filter(f => f.name == "__sh" || f.name == "bucket") :+
        org.apache.spark.sql.types.StructField("__dfr",
          org.apache.spark.sql.types.LongType, nullable = false))
    StoredWinnowState(
      spark.read.schema(sch).parquet(s"$genPath/fps"),
      spark.read.schema(statsSchema).parquet(s"$genPath/stats"),
      m.getAs[Int]("k"), m.getAs[Int]("window"),
      m.getAs[Boolean]("use_md5"), m.getAs[Int]("n_buckets"))
  }

  /** [[winnowCrossPairs]] against a STORED state: per-trigger corpus I/O
    * is proportional to the fingerprint buckets the batch touches, not
    * the store. The batch's distinct fingerprint buckets (bounded
    * collect — ≤ nBuckets values) become a partition filter on both
    * stored frames; the cross-side hot gate is priced from batch
    * frequencies × the store's stats with no fps-row scan, and hot
    * fingerprints are filtered from BOTH sides by the shared
    * [[gateHotShinglesCross]]. Output identical to the in-memory form on the same
    * sketch parameters (spec-pinned; the oracled twin shares
    * `dedup_winnow_inc`'s oracle verbatim). */
  def winnowPairsAgainstStored(batch: DataFrame, textCol: String, idCol: String,
                               stored: StoredWinnowState, minShared: Long = 8L,
                               maxFingerprintPairs: Long = 4_000_000L,
                               checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    val eB = winnowState(batch, textCol, idCol, stored.k, stored.window,
      stored.useMd5, checkpoint)
    // pruned read 1: only the batch's touched fingerprint buckets
    val touched = eB.select(winnowFpBucket(stored.nBuckets).as("bucket"))
      .distinct().collect().map(_.getLong(0)).map(b => b: Any)
    val cFps = stored.fps.where(col("bucket").isin(touched: _*)).drop("bucket")
    val cStats = stored.stats.where(col("bucket").isin(touched: _*)).drop("bucket")
    // the shared cross gate, priced from batch dfs x the STORE's stats
    // table (dfRPre) — no fps-row scan to decide
    val (gB, gC) = gateHotShinglesCross(eB, cFps, "dedup_winnow_stored",
      maxFingerprintPairs, checkpoint, dfRPre = Some(cStats))
    gB.as("a").join(gC.as("b"), col("a.__sh") === col("b.__sh"))
      .groupBy(col(s"a.$idCol").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  // --------------------------------------------------------- incremental

  /** Incremental dedup: flag each `batch` document that duplicates the
    * existing `corpus` — the nightly-ingest operator (dedupe today's crawl
    * against the accumulated corpus; within-batch and within-corpus
    * duplicates are a separate self-dedup concern and are NOT reported
    * here). Ids must be disjoint across the two frames.
    *
    * Output (one row per duplicated batch doc):
    * (idCol, dup_kind 'exact'|'near', match_id, jaccard). Exact matches
    * (identical text) attach the min corpus id for their digest and take
    * precedence; remaining docs report their best near match (max shingle
    * jaccard >= `threshold`, ties to the smallest corpus id).
    *
    * Plan shape: the exact arm is one hash-agg over corpus digests plus
    * one keyed join (16-byte md5 keys, never full text). The near arm is
    * [[ngramJaccardCrossPairs]] — shared-shingle blocking that pairs batch
    * shingle rows ONLY with corpus rows of the same shingle, so same-side
    * pairs never exist (cost ∑ dfBatch·dfCorpus, not ∑ df²) and the
    * hot-shingle gate caps the dfBatch·dfCorpus product per shingle
    * (CapMetrics stage `dedup_ngram_cross`). At scale, run the
    * corpus side through a bucketed layout ([[graft.util.BucketedTables]])
    * so repeated nightly runs never reshuffle the corpus digests. */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame, textCol: String,
                       idCol: String, n: Int = 3, threshold: Double = 0.5,
                       checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
                       maxShinglePairs: Long = 4_000_000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bd = batch.select(col(idCol), md5(col(textCol)).as("__digest"))
    val cd = corpus.groupBy(md5(col(textCol)).as("__digest"))
      .agg(min(col(idCol)).as("match_id"))
    // materialized: consumed by both the output union and the near arm's
    // anti-join — without the barrier each action re-digests the corpus
    val exact = Materialize(
      bd.join(cd, Seq("__digest"))
        .select(col(idCol), lit("exact").as("dup_kind"), col("match_id"),
          lit(1.0).as("jaccard")),
      checkpoint)

    // cross-side pair generation: only batch x corpus candidates ever
    // exist, so the near arm's cost scales with the BATCH, not the
    // corpus' internal pair volume (the union-self-join formulation
    // generated, scored, and discarded every corpus x corpus pair — the
    // sf10 scale run measured that as 39x growth at 10x data)
    val oriented = ngramJaccardCrossPairs(batch, corpus, textCol, idCol,
        n, threshold, checkpoint, maxShinglePairs)
      .select(col("id_a").as(idCol), col("id_b").as("match_id"), col("jaccard"))
    val best = Window.partitionBy(col(idCol))
      .orderBy(col("jaccard").desc, col("match_id"))
    val near = oriented
      .join(exact.select(col(idCol)), Seq(idCol), "left_anti")
      .withColumn("__rk", row_number().over(best))
      .where(col("__rk") === 1)
      .select(col(idCol), lit("near").as("dup_kind"), col("match_id"), col("jaccard"))
    exact.unionByName(near)
  }

  /** Stored MinHash dedup STATE of a corpus version — one row per
    * document: (idCol, `__sig` array of k minhashes, `__hset` sorted
    * distinct shingle hashes). This is the nightly near-dup INDEX:
    * computed once per corpus version and persisted (ideally bucketed by
    * idCol — [[graft.util.BucketedTables]]), it lets
    * [[minhashIncrementalPairs]] flag a batch against the corpus WITHOUT
    * rescanning corpus text — band keys derive from `__sig`, the exact
    * verify reads `__hset`; the text column is not even an input to the
    * nightly job. Append-only by construction (state(A ∪ B) = state(A) ∪
    * state(B), disjoint ids), so each night appends the batch's own state
    * after flagging — the same maintenance contract as [[chunkDigests]]
    * and [[mergeCensus]]. Blank documents (no shingles) are excluded, as
    * in every minhash path. */
  def minhashState(docs: DataFrame, textCol: String, idCol: String,
                   shingleLen: Int = 3, k: Int = 64): DataFrame = {
    val lowered = lower(trim(col(textCol)))
    spread(docs).select(col(idCol),
        graft.fuzzy.vectorFunctions.word_shingles(lowered, shingleLen).as("__shingles"),
        graft.fuzzy.vectorFunctions.hashed_shingle_set(lowered, shingleLen).as("__hset"))
      .where(size(col("__shingles")) > 0)
      .select(col(idCol), minhashSignature(col("__shingles"), k).as("__sig"),
        col("__hset"))
  }

  /** Nightly MinHash near-dup flags: `batch` documents vs a STORED corpus
    * [[minhashState]] — (id_a from batch, id_b from corpus, exact shingle
    * jaccard >= threshold), ids disjoint by contract.
    *
    * Plan shape mirrors [[ngramJaccardCrossPairs]]'s cross-side rule on
    * the banded-signature key: batch band rows join ONLY corpus band rows
    * of the same (band, bucket), so same-side pairs never exist (cost
    * ∑ dfBatch·dfCorpus per bucket, not ∑ df²) and the per-bucket cap
    * gates the CROSS product with drop accounting (CapMetrics stage
    * `dedup_minhash_inc`). Unlike the n-gram cross variant the corpus
    * side's blocking cost is k band keys per document — independent of
    * document length — and no corpus text is read at all. `k` must equal
    * `numBands * rowsPerBand` in the stored state. */
  def minhashIncrementalPairs(batch: DataFrame, corpusState: DataFrame,
                              textCol: String, idCol: String,
                              shingleLen: Int = 3,
                              numBands: Int = 16, rowsPerBand: Int = 4,
                              threshold: Double = 0.7,
                              maxBucketPairs: Long = 4_000_000L,
                              checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    CapMetrics.requireBands(numBands)
    val k = numBands * rowsPerBand
    // one pass over the batch text feeds banding AND verify
    val bState = Materialize(minhashState(batch, textCol, idCol, shingleLen, k),
      checkpoint)
    def banded(st: DataFrame) = Blocking.minhashBands(st, col("__sig"), numBands,
      rowsPerBand, "__band", "__bucket", col(idCol))
    val bb = banded(bState)
    val cb = banded(corpusState)
    // only buckets present on BOTH sides make pairs, and the cap applies
    // to the cross product (same gate as the ANN LSH join)
    val gate = Blocking.cross(bb, cb, "dedup_minhash_inc", Some("__band"), "__bucket",
      maxBucketPairs, checkpoint)
    val pairs = gate.keep(bb).as("a").join(gate.keep(cb).as("b"),
        col("a.__band") === col("b.__band") && col("a.__bucket") === col("b.__bucket"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccardSided(pairs,
      bState.select(col(idCol), col("__hset")),
      corpusState.select(col(idCol), col("__hset")), idCol, threshold)
  }

  /** Band-bucket expression shared by the stored minhash state's writer
    * and its query-time pruning — MUST stay identical on both sides. */
  private def minhashBandBucket(nBuckets: Int): Column =
    pmod(xxhash64(col("__band"), col("__bucket")), lit(nBuckets.toLong))

  /** Id-bucket expression for the stored state's shingle-set table. */
  private def minhashIdBucket(id: Column, nBuckets: Int): Column =
    pmod(xxhash64(id), lit(nBuckets.toLong))

  /** Persist a MinHash corpus state BUCKET-PARTITIONED — the
    * [[saveHammingState]] treatment applied to the text near-dup
    * workhorse. [[minhashState]] + [[minhashIncrementalPairs]] already
    * avoid re-reading corpus TEXT per trigger, but the state frame
    * itself (signatures + shingle sets) is scanned WHOLE on every batch;
    * at a 10⁸-document store that is the dominant per-trigger cost. This
    * layout makes both reads partition-pruned:
    *
    *  - `banded/bucket=N/` — one row per (doc, band): (id, __band,
    *    __bucket), bucket = hash(band, bucketKey) mod nBuckets. Banding
    *    (numBands × rowsPerBand) is FIXED AT SAVE TIME (it defines the
    *    layout), unlike the query-time knob of the in-memory form.
    *  - `stats/bucket=N/` — per-(band, bucketKey) corpus row counts, so
    *    the cap gate prices a batch without scanning banded rows.
    *  - `hsets/hbucket=M/` — (id, __hset) keyed by hash(id) mod
    *    nBuckets: the exact-jaccard verify reads ONLY the hset
    *    partitions of the candidate corpus ids.
    *
    * Refreshes are generation-flipped with the same `graceGens` contract
    * as the hamming store ([[saveHammingState]] scaladoc). */
  def saveMinhashState(corpus: DataFrame, textCol: String, idCol: String,
                       path: String, shingleLen: Int = 3,
                       numBands: Int = 16, rowsPerBand: Int = 4,
                       nBuckets: Int = 64, graceGens: Int = 1): Unit = {
    require(shingleLen >= 1, s"shingleLen must be >= 1 (got $shingleLen)")
    CapMetrics.requireBands(numBands)
    require(rowsPerBand >= 1, s"rowsPerBand must be >= 1 (got $rowsPerBand)")
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    val spark = corpus.sparkSession
    writeGenerationFlipped(spark, path, graceGens, "saveMinhashState") { genPath =>
      val k = numBands * rowsPerBand
      // ONE execution of the corpus shingle/signature lineage: the
      // combined (id, sig, hset) state is staged to parquet first, and
      // banded, stats AND hsets all derive from the WRITTEN file — the
      // stats-from-written-chunked recipe applied to the whole save
      // (deriving banded and hsets from the lazy plan would run the
      // dominant shingle/minhash pass over the corpus twice)
      val stagePath = s"$genPath/state_raw"
      minhashState(corpus, textCol, idCol, shingleLen, k)
        .select(col(idCol).as("id"), col("__sig"), col("__hset"))
        .write.mode("overwrite").parquet(stagePath)
      // unpartitioned writes keep their schema even when empty
      val state = spark.read.parquet(stagePath)
      val banded = Blocking.minhashBands(state, col("__sig"), numBands, rowsPerBand,
          "__band", "__bucket", col("id"))
        .withColumn("bucket", minhashBandBucket(nBuckets))
      banded.limit(0).write.mode("overwrite").parquet(s"$genPath/schema_banded")
      banded.repartition(nBuckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$genPath/banded")
      spark.read.schema(storedSchema(spark, s"$genPath/schema_banded"))
        .parquet(s"$genPath/banded")
        .groupBy(col("bucket"), col("__band"), col("__bucket"))
        .agg(count(lit(1)).as("__cc"))
        .repartition(nBuckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$genPath/stats")
      val hsets = state.select(col("id"), col("__hset"))
        .withColumn("hbucket", minhashIdBucket(col("id"), nBuckets))
      hsets.limit(0).write.mode("overwrite").parquet(s"$genPath/schema_hsets")
      hsets.repartition(nBuckets, col("hbucket"))
        .write.mode("overwrite").partitionBy("hbucket")
        .parquet(s"$genPath/hsets")
      import spark.implicits._
      Seq((shingleLen, numBands, rowsPerBand, nBuckets))
        .toDF("shingle_len", "num_bands", "rows_per_band", "n_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$genPath/meta")
      // the staging table is not part of the layout — gone before commit
      val (fs, _) = DurableIndex.qualified(spark, path)
      fs.delete(fs.makeQualified(new org.apache.hadoop.fs.Path(stagePath)), true)
    }
  }

  private def storedSchema(spark: org.apache.spark.sql.SparkSession,
                           schemaPath: String): org.apache.spark.sql.types.StructType =
    spark.read.parquet(schemaPath).schema

  /** A stored MinHash corpus state ([[saveMinhashState]] layout). */
  final case class StoredMinhashState(banded: DataFrame, stats: DataFrame,
                                      hsets: DataFrame, shingleLen: Int,
                                      numBands: Int, rowsPerBand: Int,
                                      nBuckets: Int)

  def loadMinhashState(spark: org.apache.spark.sql.SparkSession,
                       path: String): StoredMinhashState = {
    val (fs, root) = DurableIndex.qualified(spark, path)
    val live = liveHammingGen(fs, root).getOrElse(throw new IllegalArgumentException(
      s"minhash state at $path has no committed generation (never saved, " +
        "or every save/refresh died mid-write) — run saveMinhashState"))
    val genPath = s"$path/${live.getName}"
    val m = spark.read.parquet(s"$genPath/meta").head()
    StoredMinhashState(
      spark.read.schema(storedSchema(spark, s"$genPath/schema_banded"))
        .parquet(s"$genPath/banded"),
      spark.read.schema(org.apache.spark.sql.types.StructType(
          storedSchema(spark, s"$genPath/schema_banded")
            .filter(f => Seq("__band", "__bucket", "bucket").contains(f.name)) :+
            org.apache.spark.sql.types.StructField("__cc",
              org.apache.spark.sql.types.LongType, nullable = false)))
        .parquet(s"$genPath/stats"),
      spark.read.schema(storedSchema(spark, s"$genPath/schema_hsets"))
        .parquet(s"$genPath/hsets"),
      m.getAs[Int]("shingle_len"), m.getAs[Int]("num_bands"),
      m.getAs[Int]("rows_per_band"), m.getAs[Int]("n_buckets"))
  }

  /** [[minhashIncrementalPairs]] against a STORED state: per-trigger
    * corpus I/O is proportional to the buckets the batch touches, not
    * the store. Two pruned reads:
    *  1. the batch's band keys hash to ≤ min(batch × numBands, nBuckets)
    *     `bucket=N/` directories — banded rows AND stats read WITH that
    *     partition filter;
    *  2. the surviving candidate pairs' corpus ids hash to ≤ nBuckets
    *     `hbucket=M/` directories — the exact-jaccard verify reads only
    *     those (candidates are materialized first, so the touched-id
    *     list is a bounded collect over a computed frame, the
    *     [[hashPairsAgainstStored]] trick twice).
    * Output and semantics identical to the in-memory form on the same
    * banding (spec-pinned; the oracled twin shares dedup_minhash_inc's
    * oracle verbatim). Batch/corpus ids disjoint by the same contract. */
  def minhashPairsAgainstStored(batch: DataFrame, textCol: String, idCol: String,
                                stored: StoredMinhashState,
                                threshold: Double = 0.7,
                                maxBucketPairs: Long = 4_000_000L,
                                checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    val k = stored.numBands * stored.rowsPerBand
    val bState = Materialize(
      minhashState(batch, textCol, idCol, stored.shingleLen, k), checkpoint)
    val bb = Blocking.minhashBands(bState, col("__sig"), stored.numBands,
      stored.rowsPerBand, "__band", "__bucket", col(idCol))
    // pruned read 1: only the batch's touched band-bucket directories
    val touched = bb.select(minhashBandBucket(stored.nBuckets).as("bucket"))
      .distinct().collect().map(_.getLong(0)).map(b => b: Any)
    val cb = stored.banded.where(col("bucket").isin(touched: _*)).drop("bucket")
    val cStats = stored.stats.where(col("bucket").isin(touched: _*)).drop("bucket")
    // cap gate priced from batch counts x STORED corpus counts — no
    // banded-row scan needed to decide; only both-side buckets survive
    val gatedBb = Blocking.cross(bb, cb, "dedup_minhash_stored", Some("__band"), "__bucket",
      maxBucketPairs, checkpoint, rightCounts = Some(cStats)).keep(bb)
    val pairs = Materialize(gatedBb.as("a").join(cb.as("b"),
        col("a.__band") === col("b.__band") &&
          col("a.__bucket") === col("b.__bucket"))
      .select(col(s"a.$idCol").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b"), checkpoint)
    // pruned read 2: only the candidate corpus ids' hset directories
    val touchedH = pairs.select(
        minhashIdBucket(col("id_b"), stored.nBuckets).as("hbucket"))
      .distinct().collect().map(_.getLong(0)).map(b => b: Any)
    val cHsets = stored.hsets.where(col("hbucket").isin(touchedH: _*))
      .select(col("id").as(idCol), col("__hset"))
    verifyJaccardSided(pairs,
      bState.select(col(idCol), col("__hset")), cHsets, idCol, threshold)
  }

  // ------------------------------------------------------------- minhash

  /** MinHash signature column: for each of k hash functions, the minimum
    * seeded hash over the document's shingle set. Native codegen'd
    * expression ([[graft.fuzzy.MinHashSignature]]) — a tight loop instead
    * of interpreted HOF lambdas. */
  private def minhashSignature(shingles: Column, k: Int): Column =
    graft.fuzzy.vectorFunctions.minhash_signature(shingles, k)

  /** MinHash-LSH near-duplicate candidate pairs.
    *
    * shingle -> k minhashes -> band into (numBands x rowsPerBand) -> bucket
    * join on (band index, band hash) -> distinct pairs -> estimate jaccard
    * as the fraction of agreeing signature positions -> threshold.
    *
    * This is the scale path for [[ngramJaccardPairs]]: candidate generation
    * cost is bounded by bucket sizes (tunable via numBands/rowsPerBand)
    * instead of shared-shingle frequency. Runs fully distributed; the only
    * shuffles are the band-bucket join and the final dedup.
    */
  def minhashLshPairs(docs: DataFrame, textCol: String, idCol: String,
                      shingleLen: Int = 3, numBands: Int = 16, rowsPerBand: Int = 4,
                      threshold: Double = 0.7,
                      maxBucketPairs: Long = 4_000_000L,
                      checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    val (pairIds, signed) = minhashCandidatePairs(docs, textCol, idCol,
      shingleLen, numBands, rowsPerBand, maxBucketPairs, checkpoint)
    pairIds
      .join(signed.select(col(idCol).as("id_a"), col("__sig").as("__sig_a")), Seq("id_a"))
      .join(signed.select(col(idCol).as("id_b"), col("__sig").as("__sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.fuzzy.vectorFunctions.sig_agreement(col("__sig_a"), col("__sig_b")).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Deduplicated LSH candidate id pairs + the materialized (id, signature)
    * frame — the shared front end of [[minhashLshPairs]] (signature-estimate
    * verify) and [[minhashLshVerifiedPairs]] (exact-shingle verify, which
    * never needs the signatures again and so skips the re-attach joins). */
  private def minhashCandidatePairs(docs: DataFrame, textCol: String, idCol: String,
                      shingleLen: Int, numBands: Int, rowsPerBand: Int,
                      maxBucketPairs: Long,
                      checkpoint: CheckpointStrategy): (DataFrame, DataFrame) = {
    CapMetrics.requireBands(numBands)
    val k = numBands * rowsPerBand
    val shingles =
      graft.fuzzy.vectorFunctions.word_shingles(lower(trim(col(textCol))), shingleLen)

    val signed = Materialize(
      spread(docs)
        .select(col(idCol), shingles.as("__shingles"))
        .where(size(col("__shingles")) > 0)
        .withColumn("__sig", minhashSignature(col("__shingles"), k))
        .select(col(idCol), col("__sig")),
      checkpoint)

    // explode into one row per band: band hash over the band's signature
    // slice (native kernel — the HOF slice + string-rendered xxhash ran
    // interpreted per band per document). Band rows carry ONLY (id, band,
    // bucket) — the 64-long signature would otherwise ride the explode x
    // numBands and the self-join shuffle; it re-attaches by id from the
    // materialized `signed` frame after the pair stream is deduplicated,
    // so the agreement kernel also runs once per UNIQUE pair instead of
    // once per band duplicate.
    val banded = Blocking.minhashBands(signed, col("__sig"), numBands, rowsPerBand,
      "__band", "__bucket", col(idCol))

    // skew guard: a bucket of n docs contributes n^2/2 candidate pairs -
    // cap it so degenerate buckets (boilerplate-heavy corpora) cannot
    // concentrate quadratic work on single reducers. Drops are counted and
    // logged (Blocking.self); small bucket lists gate via a codegen'd
    // membership filter instead of a join.
    val gatedBands = Blocking.self(banded, "dedup_minhash", Some("__band"), "__bucket",
      maxBucketPairs, checkpoint).keep(banded)

    // Self-join on 16-byte id rows, dedup the pair ids. Callers attach
    // whatever payload their verify needs (signatures / shingles) by id.
    val pairIds = gatedBands.as("a").join(gatedBands.as("b"),
        col("a.__band") === col("b.__band") && col("a.__bucket") === col("b.__bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    (pairIds, signed)
  }

  /** MinHash-LSH candidates verified with the EXACT word-shingle Jaccard:
    * LSH generates candidate pairs (bucket collisions only — no signature
    * estimate filter), then each candidate is scored against the true
    * shingle sets and kept iff `jaccard >= threshold`. The production
    * shape for near-dup mining: candidate generation is sub-quadratic, the
    * exact verify touches only candidate pairs, and the output is
    * ground-truth-checkable (unlike the signature estimate). May still
    * MISS a pair whose signatures never collide in any band — recall is
    * governed by (numBands, rowsPerBand) exactly as in
    * [[minhashLshPairs]]. */
  def minhashLshVerifiedPairs(docs: DataFrame, textCol: String, idCol: String,
                              shingleLen: Int = 3, numBands: Int = 16, rowsPerBand: Int = 4,
                              threshold: Double = 0.7,
                              maxBucketPairs: Long = 4_000_000L,
                              checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    val (cand, _) = minhashCandidatePairs(docs, textCol, idCol,
      shingleLen, numBands, rowsPerBand, maxBucketPairs, checkpoint)
    // exact verify via per-id shingle-hash SETS + one merge pass per pair:
    // the earlier per-(id, shingle) join re-created a hot key for
    // boilerplate-heavy documents appearing in many candidate pairs
    verifyJaccard(cand, shingleSets(docs, textCol, idCol, shingleLen, checkpoint),
      idCol, threshold)
  }

  // ------------------------------------------------------------- simhash

  /** 64-bit SimHash of the token multiset: per bit, the sign of the sum of
    * +-1 votes from each token hash (native codegen'd expression). `useMd5`
    * picks the MD5 token hash that a SQL oracle can recompute bit-for-bit
    * (slower; the xxhash64 default is the at-scale path). */
  def simhash64(textCol: Column, useMd5: Boolean = false): Column =
    graft.fuzzy.vectorFunctions.simhash64(split(lower(trim(textCol)), "\\s+"), useMd5)

  /** SimHash near-duplicate pairs with Hamming distance <= maxHamming.
    * Thin text-specific front of [[hashPairs]]: compute [[simhash64]],
    * then pigeonhole-block and verify on the 64-bit hash column. */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3,
                   maxBucketPairs: Long = 4_000_000L,
                   checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
                   useMd5: Boolean = false): DataFrame =
    hashPairs(docs, simhash64(col(textCol), useMd5), idCol, maxHamming,
      maxBucketPairs, checkpoint, metricName = "dedup_simhash")

  /** Hamming-radius pair generation over ANY precomputed (or computable)
    * 64-bit hash column — SimHash, perceptual image dHash
    * ([[graft.pipeline.Multimodal.imageDHash]]), or any other
    * locality-preserving 64-bit fingerprint. Emits (id_a, id_b, hamming)
    * with id_a < id_b and hamming <= maxHamming.
    *
    * Blocking: split the 64-bit hash into (maxHamming + 1) chunks — by
    * pigeonhole any pair within the Hamming budget agrees on at least one
    * full chunk, so the join key (chunk index, chunk value) finds all of
    * them without a cartesian. Verification is `bit_count(xor) <=
    * maxHamming`, codegen'd. Per-bucket caps + drop accounting
    * ([[graft.util.Blocking]], logged under `metricName`) guard
    * mass-duplicate skew — run [[exactDedup]] first when identical hashes
    * are expected in bulk. */
  def hashPairs(df: DataFrame, hashCol: Column, idCol: String,
                maxHamming: Int = 3,
                maxBucketPairs: Long = 4_000_000L,
                checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
                metricName: String = "dedup_hamming"): DataFrame = {
    // chunks > 64 would make chunkBits = 0 (empty join keys -> cartesian);
    // pigeonhole needs maxHamming + 1 NON-EMPTY chunks. Remainder bits not
    // covered by any chunk are harmless: completeness only needs the <=
    // maxHamming differing bits spread over maxHamming + 1 disjoint chunks.
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31] (got $maxHamming) — 64-bit hash " +
        "pigeonhole blocking needs maxHamming + 1 chunks of >= 2 bits")
    requireIntegralHash(df, hashCol)
    val hashed = Materialize(
      spread(df).select(col(idCol), hashCol.cast("long").as("__simhash")),
      checkpoint)
    val chunked = hashChunks(hashed, idCol, maxHamming)

    // skew guard (mass-duplicate corpora put millions of docs in one
    // chunk bucket; run exactDedup first when that is expected); drops are
    // counted and logged (Blocking.self)
    val gated = Blocking.self(chunked, metricName, Some("__chunk"), "__ckey",
      maxBucketPairs, checkpoint).keep(chunked)

    // verify (bit_count over xor, codegen'd) and filter BEFORE the
    // pair-level dedup so the distinct shuffles only surviving pairs
    gated.as("a").join(gated.as("b"),
        col("a.__chunk") === col("b.__chunk") && col("a.__ckey") === col("b.__ckey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        bit_count(col("a.__simhash").bitwiseXOR(col("b.__simhash"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Integral-type guard shared by the hamming pair generators: a silent
    * cast('long') over e.g. a HEX-STRING hash column would null every key
    * and return ZERO pairs with no error — the wrong-answer mode for
    * "no near-duplicates found". */
  private def requireIntegralHash(df: DataFrame, hashCol: Column): Unit = {
    val hashType = df.select(hashCol).schema.head.dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(hashType),
      s"hash pair generation needs an integral hash column, got $hashType — " +
        "pass the raw 64-bit hash (e.g. imageDHash's `dhash`), not its hex form")
  }

  /** Pigeonhole chunk explode shared by the hamming pair generators:
    * (id, __simhash) -> one row per (chunk index, chunk value) of the
    * maxHamming + 1 chunks. maxHamming = 0 is ONE 64-bit chunk
    * ([[Blocking.bitBands]] masks it with -1L). */
  private def hashChunks(hashed: DataFrame, idCol: String, maxHamming: Int): DataFrame =
    Blocking.bitBands(hashed, col("__simhash"), 64, maxHamming + 1, "__chunk", "__ckey",
      col(idCol), col("__simhash"))

  /** Cross-side hamming pairs — the INCREMENTAL form of [[hashPairs]]
    * (new batch vs stored corpus, the nightly-ingest / streaming shape
    * next to [[minhashIncrementalPairs]]): emits (id_a from `batch`,
    * id_b from `corpus`, hamming) for every cross pair within
    * `maxHamming` bits. Same pigeonhole blocking, but the bucket join is
    * batch-chunk × corpus-chunk — work is O(batch × colliding corpus),
    * never corpus². Pairs whose two ids are equal (re-ingest of an
    * already-stored row) are dropped; ids otherwise need no
    * relationship, and when a row appears on BOTH sides its pairs
    * appear in batch-side orientation only (id_a is always the batch
    * row). Bucket caps gate on the per-bucket CROSS product
    * (batchCount × corpusCount), drop-accounted under `metricName`;
    * only the batch side is filtered (dropping one side of a bucket
    * kills its pairs). */
  def hashPairsAgainst(batch: DataFrame, batchHash: Column, batchIdCol: String,
                       corpus: DataFrame, corpusHash: Column, corpusIdCol: String,
                       maxHamming: Int = 3,
                       maxBucketPairs: Long = 4_000_000L,
                       checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
                       metricName: String = "dedup_hamming_incr"): DataFrame =
    hashPairsAgainstState(batch, batchHash, batchIdCol,
      hammingState(corpus, corpusHash, corpusIdCol, maxHamming, checkpoint),
      maxBucketPairs, checkpoint, metricName)

  /** Prepared corpus side for [[hashPairsAgainstState]]: chunk-exploded
    * hashes and their per-bucket counts, both materialized ONCE. Build
    * this once per corpus snapshot (nightly, or at streaming-writer
    * construction) — re-deriving it per batch would pay two corpus-wide
    * passes on every call, which is exactly the O(corpus)-per-trigger
    * cost the incremental form exists to avoid. */
  final case class HammingState private[Dedup] (
      chunked: DataFrame, stats: DataFrame, maxHamming: Int)

  def hammingState(corpus: DataFrame, corpusHash: Column, corpusIdCol: String,
                   maxHamming: Int = 3,
                   checkpoint: CheckpointStrategy = CheckpointStrategy.Local): HammingState = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31] (got $maxHamming) — 64-bit hash " +
        "pigeonhole blocking needs maxHamming + 1 chunks of >= 2 bits")
    requireIntegralHash(corpus, corpusHash)
    val chunkedB = Materialize(hashChunks(
      spread(corpus).select(col(corpusIdCol).as("id_b"),
        corpusHash.cast("long").as("__simhash")), "id_b", maxHamming),
      checkpoint)
    val statsB = Materialize(
      chunkedB.groupBy(col("__chunk"), col("__ckey")).agg(count(lit(1)).as("__nb")),
      checkpoint)
    HammingState(chunkedB, statsB, maxHamming)
  }

  /** Batch-side prologue shared by the state/stored incremental forms:
    * integral check, materialize, pigeonhole chunk explode. */
  private def chunkBatch(batch: DataFrame, batchHash: Column, batchIdCol: String,
                         maxHamming: Int, checkpoint: CheckpointStrategy): DataFrame = {
    requireIntegralHash(batch, batchHash)
    hashChunks(Materialize(
      spread(batch).select(col(batchIdCol).as("id_a"),
        batchHash.cast("long").as("__simhash")), checkpoint),
      "id_a", maxHamming)
  }

  /** [[hashPairsAgainst]] over a PREPARED corpus state — per call, only
    * the batch side is chunked and counted; the bucket gate joins the
    * batch's (tiny) stats against the precomputed corpus stats. */
  def hashPairsAgainstState(batch: DataFrame, batchHash: Column, batchIdCol: String,
                            state: HammingState,
                            maxBucketPairs: Long = 4_000_000L,
                            checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
                            metricName: String = "dedup_hamming_incr"): DataFrame =
    hashPairsAgainstChunked(
      chunkBatch(batch, batchHash, batchIdCol, state.maxHamming, checkpoint),
      state.chunked, state.stats,
      state.maxHamming, maxBucketPairs, checkpoint, metricName)

  private def hashPairsAgainstChunked(chunkedA: DataFrame,
                                      corpusChunked: DataFrame, corpusStats: DataFrame,
                                      maxHamming: Int, maxBucketPairs: Long,
                                      checkpoint: CheckpointStrategy,
                                      metricName: String): DataFrame = {
    val gatedA = Blocking.cross(chunkedA, corpusChunked, metricName, Some("__chunk"), "__ckey",
      maxBucketPairs, checkpoint, rightCounts = Some(corpusStats)).keep(chunkedA)

    gatedA.as("a").join(corpusChunked.as("b"),
        col("a.__chunk") === col("b.__chunk") && col("a.__ckey") === col("b.__ckey") &&
          !(col("a.id_a") <=> col("b.id_b")))
      .select(col("a.id_a"), col("b.id_b"),
        bit_count(col("a.__simhash").bitwiseXOR(col("b.__simhash"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Bucket expression shared by the stored hamming state's writer and
    * its query-time pruning — MUST stay identical on both sides. */
  private def hammingBucket(nBuckets: Int): Column =
    pmod(xxhash64(col("__chunk"), col("__ckey")), lit(nBuckets.toLong))

  /** Persist a hamming corpus state BUCKET-PARTITIONED
    * (`.../bucket=N/` parquet dirs for both the chunk-exploded hashes
    * and their per-bucket stats): at query time the batch's chunk keys
    * hash to a bounded set of buckets (≤ batch × (maxHamming + 1),
    * capped at `nBuckets`), and the stored frames are read WITH a bucket
    * filter — partition pruning skips every other directory, so
    * per-trigger corpus I/O is proportional to the buckets the batch
    * actually touches, not the store (the
    * [[graft.pipeline.TextAnalysis.saveBm25Index]] token-bucket trick
    * applied to hamming blocking; the in-memory [[hammingState]] scans
    * its whole checkpointed corpus per call, which at a 10⁸-hash store
    * is gigabytes per trigger).
    *
    * A refresh is GENERATION-FLIPPED, never in-place: each save writes a
    * fresh immutable `gen=G/` subdirectory (chunked + stats + meta +
    * commit marker, the [[DurableIndex]] epoch scheme) and
    * [[loadHammingState]] resolves the highest committed generation —
    * so a reader that resolved gen G-1 before a concurrent refresh keeps
    * scanning its own consistent generation instead of mixing old stats
    * with new chunks mid-trigger. The `graceGens` most recent superseded
    * COMMITTED generations are kept as the grace window for exactly those
    * in-flight readers (default 1 = single-writer/nightly shape: a reader
    * survives one refresh mid-scan); a multi-reader serving deployment
    * whose readers may lag several refreshes behind sizes `graceGens` to
    * its slowest reader — a reader pinned PAST the window gets loud task
    * failures on deleted files, never silently-wrong pairs (the data it
    * was scanning is gone, not mutated). Long-lived stream writers
    * ([[graft.streaming.DocStreams.hammingNearDupWriterStored]]) should
    * still re-load after a refresh to see the new corpus. Every deleted
    * generation path is WARN-logged so a failed lagging reader is
    * attributable from the writer's log alone. */
  def saveHammingState(corpus: DataFrame, corpusHash: Column, corpusIdCol: String,
                       path: String, maxHamming: Int = 3,
                       nBuckets: Int = 64, graceGens: Int = 1): Unit = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31] (got $maxHamming)")
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    require(graceGens >= 0, s"graceGens must be >= 0 (got $graceGens)")
    requireIntegralHash(corpus, corpusHash)
    val spark = corpus.sparkSession
    writeGenerationFlipped(spark, path, graceGens, "saveHammingState") { genPath =>
      val chunked = hashChunks(
        spread(corpus).select(col(corpusIdCol).as("id_b"),
          corpusHash.cast("long").as("__simhash")), "id_b", maxHamming)
        .withColumn("bucket", hammingBucket(nBuckets))
      // partitioned writes of an EMPTY frame emit no schema-bearing files;
      // persist the schema separately so an empty store stays loadable
      chunked.limit(0).write.mode("overwrite").parquet(s"$genPath/schema")
      // one shuffle task per bucket -> ONE file per bucket directory (the
      // saveBm25Index recipe — without it every task spills a sliver into
      // every bucket)
      chunked.repartition(nBuckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$genPath/chunked")
      // stats derive from the WRITTEN chunked parquet — deriving them from
      // the lazy plan would execute the full corpus lineage (incl. the
      // caller's hash expression) a second time
      spark.read.schema(chunkedSchema(spark, genPath))
        .parquet(s"$genPath/chunked")
        .groupBy(col("bucket"), col("__chunk"), col("__ckey"))
        .agg(count(lit(1)).as("__nb"))
        .repartition(nBuckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$genPath/stats")
      import spark.implicits._
      Seq((maxHamming, nBuckets)).toDF("max_hamming", "n_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$genPath/meta")
    }
    // pre-generation stores (the original root-level chunked/stats/meta
    // layout) are superseded by this save too — remove the legacy dirs
    // and root commit marker so they never shadow the gen= scheme
    val (fs, root) = DurableIndex.qualified(spark, path)
    val legacy = Seq("schema", "chunked", "stats", "meta", "_graft_commit")
      .map(n => new org.apache.hadoop.fs.Path(root, n)).filter(fs.exists)
    legacy.foreach { p =>
      logger.warn(s"saveHammingState: deleting legacy pre-generation store dir $p")
      fs.delete(p, true)
    }
  }

  /** Generation-flip write harness shared by the stored dedup states
    * ([[saveHammingState]], [[saveMinhashState]]): write a fresh
    * immutable `gen=G/` via `writeGen`, commit it LAST (a crash anywhere
    * inside `writeGen` leaves an uncommitted dir that load ignores and
    * the next save garbage-collects), then delete every generation
    * except the new one and the `graceGens` most recently superseded
    * COMMITTED ones — each deletion WARN-logged so a lagging reader's
    * task failure is attributable to this save. */
  private def writeGenerationFlipped(spark: org.apache.spark.sql.SparkSession,
                                     path: String, graceGens: Int,
                                     writer: String)
                                    (writeGen: String => Unit): Unit = {
    require(graceGens >= 0, s"graceGens must be >= 0 (got $graceGens)")
    val (fs, root) = DurableIndex.qualified(spark, path)
    // the graceGens most recently committed generations survive this save
    val grace = DurableIndex.listDirs(fs, root, "gen=")
      .filter(g => fs.exists(new org.apache.hadoop.fs.Path(g, "_graft_commit")))
      .sortBy(-_.getName.stripPrefix("gen=").toLong)
      .take(graceGens).map(_.getName).toSet
    val gen = DurableIndex.listDirs(fs, root, "gen=")
      .map(_.getName.stripPrefix("gen=").toLong).foldLeft(-1L)(math.max) + 1
    writeGen(s"$path/gen=$gen")
    DurableIndex.commit(fs, new org.apache.hadoop.fs.Path(root, s"gen=$gen"))
    DurableIndex.listDirs(fs, root, "gen=").foreach { g =>
      if (g.getName != s"gen=$gen" && !grace.contains(g.getName)) {
        logger.warn(s"$writer: deleting superseded generation $g " +
          s"(live=gen=$gen, grace=${grace.toSeq.sorted.mkString(",")})")
        fs.delete(g, true)
      }
    }
  }

  /** Highest committed `gen=G/` under a generation-flipped store. */
  private def liveHammingGen(fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path
                            ): Option[org.apache.hadoop.fs.Path] = {
    val committed = DurableIndex.listDirs(fs, root, "gen=")
      .filter(g => fs.exists(new org.apache.hadoop.fs.Path(g, "_graft_commit")))
    if (committed.isEmpty) None
    else Some(committed.maxBy(_.getName.stripPrefix("gen=").toLong))
  }

  private def chunkedSchema(spark: org.apache.spark.sql.SparkSession,
                            path: String): org.apache.spark.sql.types.StructType =
    spark.read.parquet(s"$path/schema").schema

  /** A stored hamming corpus state ([[saveHammingState]] layout). */
  final case class StoredHammingState(chunked: DataFrame, stats: DataFrame,
                                      maxHamming: Int, nBuckets: Int)

  def loadHammingState(spark: org.apache.spark.sql.SparkSession,
                       path: String): StoredHammingState = {
    val (fs, root) = DurableIndex.qualified(spark, path)
    val live = liveHammingGen(fs, root).getOrElse {
      // a store written by the pre-generation code has its commit marker
      // and chunked/ at the ROOT — name that case explicitly instead of
      // claiming the store was never saved
      if (fs.exists(new org.apache.hadoop.fs.Path(root, "_graft_commit")) &&
        fs.exists(new org.apache.hadoop.fs.Path(root, "chunked")))
        throw new IllegalArgumentException(
          s"hamming state at $path uses the legacy root-level layout " +
            "(pre-generation-flip format) — re-run saveHammingState on the " +
            "corpus to migrate it to the gen=G/ scheme")
      throw new IllegalArgumentException(
        s"hamming state at $path has no committed generation (never saved, " +
          "or every save/refresh died mid-write) — run saveHammingState")
    }
    val genPath = s"$path/${live.getName}"
    val m = spark.read.parquet(s"$genPath/meta").head()
    val sch = chunkedSchema(spark, genPath)
    val statsSchema = org.apache.spark.sql.types.StructType(
      sch.filter(f => f.name == "__chunk" || f.name == "__ckey" || f.name == "bucket") :+
        org.apache.spark.sql.types.StructField("__nb",
          org.apache.spark.sql.types.LongType, nullable = false))
    StoredHammingState(
      spark.read.schema(sch).parquet(s"$genPath/chunked"),
      spark.read.schema(statsSchema).parquet(s"$genPath/stats"),
      m.getAs[Int]("max_hamming"), m.getAs[Int]("n_buckets"))
  }

  /** [[hashPairsAgainstState]] against a STORED state: the batch's
    * distinct bucket values (≤ min(batch × chunks, nBuckets), collected
    * — bounded by `nBuckets`) become a partition filter on both stored
    * frames, so the corpus-side scan reads ONLY the touched
    * `bucket=N/` directories (pruning spec-asserted). */
  def hashPairsAgainstStored(batch: DataFrame, batchHash: Column, batchIdCol: String,
                             stored: StoredHammingState,
                             maxBucketPairs: Long = 4_000_000L,
                             checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
                             metricName: String = "dedup_hamming_incr"): DataFrame = {
    val chunkedA = chunkBatch(batch, batchHash, batchIdCol,
      stored.maxHamming, checkpoint)
    val touched = chunkedA.select(hammingBucket(stored.nBuckets).as("bucket"))
      .distinct().collect().map(_.getLong(0)).map(b => b: Any)
    hashPairsAgainstChunked(chunkedA,
      stored.chunked.where(col("bucket").isin(touched: _*)).drop("bucket"),
      stored.stats.where(col("bucket").isin(touched: _*)).drop("bucket"),
      stored.maxHamming, maxBucketPairs, checkpoint, metricName)
  }

  // -------------------------------------------------------- embeddings

  /** Dot product of two FLOAT-array columns as a double (left-to-right
    * accumulation — same sum order as the DuckDB oracle). Native codegen'd
    * expression. */
  def dot(a: Column, b: Column): Column = graft.fuzzy.vectorFunctions.fvec_dot(a, b)

  def cosineSimilarity(a: Column, b: Column): Column =
    graft.fuzzy.vectorFunctions.fvec_cosine(a, b)

  /** Brute-force embedding near-duplicate pairs (cosine >= threshold,
    * id_a < id_b). O(n^2) candidate space — correctness baseline and small
    * corpora only; the scale path is [[cosineLshPairs]]. */
  def embeddingCosinePairs(embeddings: DataFrame, vecCol: String, idCol: String,
                           threshold: Double): DataFrame = {
    val a = spread(embeddings).select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = embeddings.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", cosineSimilarity(col("__va"), col("__vb")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Deterministic random hyperplanes for sign-LSH (driver-side seeded). */
  private[pipeline] def hyperplanes(dim: Int, planes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bits column for a vector column — the ONE Scala site choosing
    * between the production gaussian planes (seeded) and the
    * oracle-reproducible md5-integer planes (exact integer dots; must stay
    * in sync with the SQL oracles' plane derivation and floor(v*4096)
    * quantization). Shared by [[cosineLshPairs]] and `AnnSearch.lshTopK`. */
  private[pipeline] def lshBitsCol(vec: Column, dim: Int, planes: Int, seed: Long,
                                   md5IntPlanes: Boolean): Column =
    if (md5IntPlanes)
      graft.fuzzy.vectorFunctions.sign_lsh_bits_int(vec, hyperplanesMd5Int(dim, planes), dim)
    else
      graft.fuzzy.vectorFunctions.sign_lsh_bits(vec, hyperplanes(dim, planes, seed).flatten, dim)

  /** Integer hyperplanes derived from MD5 — reproducible in SQL:
    * component(p, d) = (('0x' || substring(md5(p || '_' || d), 1, 15))
    * ::BIGINT % 2097152) - 1048576, i.e. uniform in [-2^20, 2^20).
    * Flattened row-major (plane p at offset p * dim). */
  private[graft] def hyperplanesMd5Int(dim: Int, planes: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](planes * dim)
    var p = 0
    while (p < planes) {
      var d = 0
      while (d < dim) {
        val hex = md.digest(s"${p}_$d".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.substring(0, 15)
        out(p * dim + d) = (java.lang.Long.parseLong(hex, 16) % 2097152L) - 1048576L
        d += 1
      }
      p += 1
    }
    out
  }

  /** Sign-LSH (random hyperplane) near-duplicate pairs — the 100 TB path
    * for [[embeddingCosinePairs]]: `planes` sign bits, banded like simhash,
    * candidates verified with the exact cosine. Recall is tunable via
    * bands; candidates per bucket stay bounded. */
  def cosineLshPairs(embeddings: DataFrame, vecCol: String, idCol: String,
                     threshold: Double, dim: Int, planes: Int = 16,
                     bands: Int = 4, seed: Long = 42L,
                     maxBucketPairs: Long = 4_000_000L,
                     checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
                     md5IntPlanes: Boolean = false): DataFrame = {
    Blocking.requirePlaneBands(planes, bands)
    // md5IntPlanes: exact integer-quantized bucketing a SQL oracle can
    // recompute bit-for-bit; gaussian is default
    val bitsCol = lshBitsCol(col(vecCol), dim, planes, seed, md5IntPlanes)

    val hashed = Materialize(
      spread(embeddings).select(col(idCol), col(vecCol), bitsCol.as("__bits")),
      checkpoint)

    // Band rows carry only (id, band, bkey) — the float vector re-attaches
    // by id from the materialized `hashed` frame after pair dedup, so it
    // never multiplies through the band explode/self-join and the cosine
    // runs once per unique pair.
    val chunked = Blocking.bitBands(hashed, col("__bits"), planes, bands, "__band", "__bkey",
      col(idCol))

    // skew guard: drop degenerate buckets before the self-join; drops are
    // counted and logged (Blocking.self)
    val gated = Blocking.self(chunked, "dedup_cosine_lsh", Some("__band"), "__bkey",
      maxBucketPairs, checkpoint).keep(chunked)

    // Self-join on id rows, dedup pair ids, re-attach both vectors by id,
    // then the exact-cosine verify runs once per unique pair.
    val pairIds = gated.as("a")
      .join(gated.as("b"),
        col("a.__band") === col("b.__band") && col("a.__bkey") === col("b.__bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairIds
      .join(hashed.select(col(idCol).as("id_a"), col(vecCol).as("__va")), Seq("id_a"))
      .join(hashed.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineSimilarity(col("__va"), col("__vb")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  // ---------------------------------------------------------- SemDeDup

  /** Assignment half of [[semDedup]] — one map-side projection against
    * the pinned centroids (no join: they ride the closure as literals),
    * emitting `(idCol, vecCol, cell, ccosq, __n2)`. This is ALSO the
    * STORED STATE of the nightly semantic dedup
    * ([[semDedupIncrementalPairs]]): append-only by construction
    * (state(A ∪ B) = state(A) ∪ state(B), disjoint ids), so each night
    * appends the batch's own rows after flagging — the same maintenance
    * contract as [[minhashState]]. */
  def semDedupState(embeddings: DataFrame, vecCol: String, idCol: String,
                    centroidsMicro: Array[Long], dim: Int, nCells: Int,
                    checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame =
    Materialize(semDedupAssign(embeddings, vecCol, idCol, centroidsMicro,
      dim, nCells), checkpoint)

  /** The LAZY assignment plan behind [[semDedupState]] — split out so
    * [[saveSemDedupState]] can write it straight to its partitioned
    * layout (materializing first would run the projection twice). */
  private def semDedupAssign(embeddings: DataFrame, vecCol: String, idCol: String,
                             centroidsMicro: Array[Long], dim: Int,
                             nCells: Int): DataFrame = {
    require(centroidsMicro.length == dim * nCells,
      s"centroids length ${centroidsMicro.length} != dim*nCells = ${dim * nCells}")
    val dots = graft.fuzzy.vectorFunctions.random_project_int(
      col(vecCol), centroidsMicro, dim, nCells)
    val n2Expr = expr(
      s"aggregate(transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 4096.0D) AS BIGINT)), " +
        "CAST(0 AS BIGINT), (acc, x) -> acc + x * x)")
    spread(embeddings)
      .select(col(idCol), col(vecCol), dots.as("__dots"), n2Expr.as("__n2"))
      .withColumn("cell", array_position(col("__dots"), array_max(col("__dots"))))
      .withColumn("__dot", element_at(col("__dots"), col("cell").cast("int")))
      .withColumn("ccosq",
        when(col("__n2") > 0,
          floor(lit(1e6) * col("__dot").cast("double") / sqrt(col("__n2").cast("double")))
            .cast("long"))
          .otherwise(lit(0L)))
      .select(col(idCol), col(vecCol), col("cell"), col("ccosq"), col("__n2"))
  }

  /** Erasure for the stored semantic state — the [[bm25Forget]] contract
    * applied here: state rows are per-document and independent (no
    * cross-document aggregates inside), so forgetting is an exact
    * anti-join and the result is BIT-IDENTICAL to rebuilding the state
    * from the retained corpus (spec-pinned). Contrast the SKETCH stores
    * ([[graft.pipeline.Profile.hllRegisters]]/`cmsCounters`/`kmvSketch`):
    * those aggregate irreversibly — a sketch cannot forget one value;
    * erasure there means rebuilding from the retained corpus, which
    * their flat scale rows price as cheap by design. */
  def semDedupForget(state: DataFrame, forgetIds: DataFrame,
                     idCol: String): DataFrame =
    state.join(forgetIds.select(col(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Nightly semantic near-dup flags: `batch` embeddings vs a STORED
    * corpus [[semDedupState]] — (id_a from batch, id_b from corpus,
    * exact cosine >= threshold), ids disjoint by contract, corpus wins
    * (the [[incrementalDedup]] convention: a batch doc inside some
    * corpus doc's epsilon-neighborhood is the duplicate). Same
    * cross-side rule as [[minhashIncrementalPairs]] on the CELL key:
    * batch rows join ONLY corpus rows of the same cell (cost
    * Σ nBatch·nCorpus per cell, never Σ n²), the cap gates the cross
    * product with O(drops) accounting (stage `dedup_semantic_inc`), and
    * the batch's own assignment pass is the only new compute — the
    * corpus side reads its stored (cell, vec) rows, no re-assignment. */
  def semDedupIncrementalPairs(batch: DataFrame, corpusState: DataFrame,
                               vecCol: String, idCol: String,
                               centroidsMicro: Array[Long], dim: Int, nCells: Int,
                               threshold: Double,
                               maxCellPairs: Long = 4_000_000L,
                               checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    // zero-norm rows never pair: the gate prices only the rows it keeps
    val bRows = semDedupState(batch, vecCol, idCol, centroidsMicro,
      dim, nCells, checkpoint).where(col("__n2") > 0)
    val cRows = corpusState.where(col("__n2") > 0)
    val gate = Blocking.cross(bRows, cRows, "dedup_semantic_inc", None, "cell",
      maxCellPairs, checkpoint)
    gate.keep(bRows)
      .select(col("cell"), col(idCol).as("id_a"), col(vecCol).as("__va"))
      .join(gate.keep(cRows)
        .select(col("cell"), col(idCol).as("id_b"), col(vecCol).as("__vb")),
        Seq("cell"))
      .select(col("id_a"), col("id_b"),
        cosineSimilarity(col("__va"), col("__vb")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Persist a SemDeDup corpus state CELL-PARTITIONED — the
    * [[saveHammingState]]/[[saveMinhashState]] treatment applied to the
    * embedding near-dup pillar. [[semDedupIncrementalPairs]] against an
    * in-memory [[semDedupState]] already skips corpus re-assignment, but
    * the state frame (id, VECTOR, cell) is scanned whole per trigger —
    * at a 10⁸-document store the vectors dominate that read. This layout
    * prunes it to the batch's touched cells:
    *
    *  - `state/cell=N/` — (id, vec, ccosq, n2) partitioned by the
    *    ASSIGNED CELL itself: partition pruning IS the inverted file,
    *    the [[AnnSearch]] postings layout. No hash-bucket layer — the
    *    cell key is already bounded by `nCells`, fixed at save time
    *    together with the centroids that define it.
    *  - `stats/` — per-cell counts of the rows that can pair (n2 > 0;
    *    ≤ nCells rows, unpartitioned): the cap gate prices a batch without
    *    touching any state row. A store saved before stats left zero-norm
    *    rows out counts every row of a cell until it is re-saved, so its
    *    gate may drop a cell that zero vectors crowd.
    *  - `meta/` — dim, nCells AND the pinned micro-grid centroids, so
    *    query-time assignment can never drift from the saved layout.
    *
    * Refreshes are generation-flipped with the same `graceGens` contract
    * as the other stores ([[saveHammingState]] scaladoc). Erasure:
    * [[semDedupForget]] is exact on the loaded frame; re-saving the
    * retained corpus is the durable form. */
  def saveSemDedupState(corpus: DataFrame, vecCol: String, idCol: String,
                        path: String, centroidsMicro: Array[Long],
                        dim: Int, nCells: Int, graceGens: Int = 1): Unit = {
    require(centroidsMicro.length == dim * nCells,
      s"centroids length ${centroidsMicro.length} != dim*nCells = ${dim * nCells}")
    val spark = corpus.sparkSession
    writeGenerationFlipped(spark, path, graceGens, "saveSemDedupState") { genPath =>
      val assigned = semDedupAssign(corpus, vecCol, idCol, centroidsMicro,
          dim, nCells)
        .select(col(idCol).as("id"), col(vecCol).as("vec"),
          col("cell"), col("ccosq"), col("__n2").as("n2"))
      // partitioned writes of an EMPTY frame emit no schema-bearing
      // files; persist the schema separately so an empty store loads
      assigned.limit(0).write.mode("overwrite").parquet(s"$genPath/schema_state")
      // one shuffle task per cell -> ONE file per cell directory (the
      // saveBm25Index recipe); the assignment lineage runs exactly once
      assigned.repartition(nCells, col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$genPath/state")
      // stats derive from the WRITTEN state (a lazy derivation would run
      // the assignment projection over the corpus a second time)
      spark.read.schema(storedSchema(spark, s"$genPath/schema_state"))
        .parquet(s"$genPath/state")
        .where(col("n2") > 0)
        .groupBy(col("cell")).agg(count(lit(1)).as("__cc"))
        .coalesce(1).write.mode("overwrite").parquet(s"$genPath/stats")
      import spark.implicits._
      Seq((dim, nCells, centroidsMicro.toSeq))
        .toDF("dim", "n_cells", "centroids_micro")
        .coalesce(1).write.mode("overwrite").parquet(s"$genPath/meta")
    }
  }

  /** A stored SemDeDup corpus state ([[saveSemDedupState]] layout). */
  final case class StoredSemDedupState(state: DataFrame, stats: DataFrame,
                                       centroidsMicro: Array[Long],
                                       dim: Int, nCells: Int)

  def loadSemDedupState(spark: org.apache.spark.sql.SparkSession,
                        path: String): StoredSemDedupState = {
    val (fs, root) = DurableIndex.qualified(spark, path)
    val live = liveHammingGen(fs, root).getOrElse(throw new IllegalArgumentException(
      s"semdedup state at $path has no committed generation (never saved, " +
        "or every save/refresh died mid-write) — run saveSemDedupState"))
    val genPath = s"$path/${live.getName}"
    val m = spark.read.parquet(s"$genPath/meta").head()
    StoredSemDedupState(
      spark.read.schema(storedSchema(spark, s"$genPath/schema_state"))
        .parquet(s"$genPath/state"),
      spark.read.parquet(s"$genPath/stats"),
      m.getAs[scala.collection.Seq[Long]]("centroids_micro").toArray,
      m.getAs[Int]("dim"), m.getAs[Int]("n_cells"))
  }

  /** [[semDedupIncrementalPairs]] against a STORED state: per-trigger
    * corpus I/O is proportional to the CELLS the batch touches, not the
    * store. The batch's distinct assigned cells (bounded collect —
    * ≤ min(batch, nCells) values) become a partition filter on the
    * stored state, so the corpus-side vector scan reads ONLY the touched
    * `cell=N/` directories (pruning spec-asserted), and the cap gate is
    * priced from batch counts × the store's per-cell stats without
    * touching a single state row. Output and semantics identical to the
    * in-memory form on the same centroids (spec-pinned; the oracled twin
    * shares `dedup_semantic_inc`'s oracle verbatim). Batch/corpus ids
    * disjoint by the same contract. */
  def semDedupPairsAgainstStored(batch: DataFrame, vecCol: String, idCol: String,
                                 stored: StoredSemDedupState, threshold: Double,
                                 maxCellPairs: Long = 4_000_000L,
                                 checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    val bState = semDedupState(batch, vecCol, idCol, stored.centroidsMicro,
      stored.dim, stored.nCells, checkpoint)
    // pruned read: only the batch's touched cell directories
    val touched = bState.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).map(c => c: Any)
    val cState = stored.state.where(col("cell").isin(touched: _*))
    val cStats = stored.stats.where(col("cell").isin(touched: _*))
    // cap gate priced from batch counts x STORED per-cell counts — no
    // state-row scan needed to decide; only both-side cells survive
    val bRows = bState.where(col("__n2") > 0)
    val gatedB = Blocking.cross(bRows, cState, "dedup_semantic_stored", None, "cell",
      maxCellPairs, checkpoint, rightCounts = Some(cStats)).keep(bRows)
    gatedB
      .select(col("cell"), col(idCol).as("id_a"), col(vecCol).as("__va"))
      .join(cState.where(col("n2") > 0)
        .select(col("cell"), col("id").as("id_b"), col("vec").as("__vb")),
        Seq("cell"))
      .select(col("id_a"), col("id_b"),
        cosineSimilarity(col("__va"), col("__vb")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Unit-normalize each k-means centroid and snap it onto the 1e-6
    * integer grid (micro units), flattened row-major — the pinned-constant
    * form [[semDedup]] and its SQL oracle both consume. The PASTED array
    * is the library artifact (same contract as
    * [[graft.pipeline.Embeddings.quantizeDirections]], minus the sign
    * canonicalization: a centroid is a point, not a direction). */
  def quantizeCentroidsMicro(cents: Array[Array[Double]]): Array[Long] =
    cents.flatMap { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      val u = if (n == 0) v else v.map(_ / n)
      u.map(x => math.round(x * 1e6))
    }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate PRUNING in embedding space. Cluster the corpus with a
    * coarse quantizer, compare pairs only WITHIN a cluster, and inside
    * each epsilon-neighborhood keep the example LEAST similar to its
    * centroid (the paper's keep-low policy: boundary examples carry more
    * information than prototypical ones).
    *
    * Deterministic, oracle-replayable semantics (every arithmetic step is
    * an idiom already pinned green elsewhere in the repo):
    *  - assignment: cell = argmax over the PINNED micro-grid centroids of
    *    the exact BIGINT dot `Σ floor(v_d·4096)·C[cell,d]` (the
    *    [[graft.fuzzy.VectorKernels.projectQ]] arithmetic) — ties to the
    *    smaller cell index;
    *  - keep rank: `ccosq = floor(1e6·dot/sqrt(n2))` with
    *    `n2 = Σ floor(v_d·4096)²` — exact integers into two IEEE ops, so
    *    both engines agree bit-for-bit (centroid norms are cell-constant,
    *    so dividing by them would not change any within-cell comparison);
    *  - pair gate: exact float cosine >= threshold (same left-to-right
    *    accumulation as the `dedup_cosine` oracle); zero-norm (n2 = 0)
    *    rows never pair (cosine undefined) and are always kept;
    *  - drop rule: a row is dropped iff SOME same-cell row with
    *    cosine >= threshold ranks strictly below it by (ccosq, id) — i.e.
    *    each neighborhood keeps its (ccosq, id)-minimum. Pairwise and
    *    deterministic: no connected components, no iteration.
    *
    * Scale shape: assignment is one codegen'd map-side projection
    * (centroids ride the closure, no join); the quadratic stage is keyed
    * by cell — at 100 TB, nCells grows with the corpus exactly like the
    * IVF index (TUNING.md §3), keeping cell populations bounded, and
    * `maxCellPairs` cap-gates skewed cells with O(drops) driver state
    * (the same [[graft.util.Blocking]] gate as the LSH generators).
    * Output: one row per input id — (idCol, cell, ccosq, kept). */
  def semDedup(embeddings: DataFrame, vecCol: String, idCol: String,
               centroidsMicro: Array[Long], dim: Int, nCells: Int,
               threshold: Double,
               maxCellPairs: Long = 4_000_000L,
               checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    val base = semDedupState(embeddings, vecCol, idCol, centroidsMicro,
      dim, nCells, checkpoint)

    // skew guard on the quadratic stage, same contract as the LSH/simhash
    // generators: degenerate cells drop (counted, logged), never explode
    // zero-norm rows never pair: the gate prices only the rows it keeps
    val pairable = base.where(col("__n2") > 0)
    val gated = Blocking.self(pairable, "dedup_semantic", None, "cell", maxCellPairs, checkpoint)
      .keep(pairable)

    val a = gated.select(col("cell"), col(idCol).as("__ia"),
      col(vecCol).as("__va"), col("ccosq").as("__ca"))
    val b = gated.select(col("cell"), col(idCol).as("__ib"),
      col(vecCol).as("__vb"), col("ccosq").as("__cb"))
    val losers = a.join(b, Seq("cell"))
      .where(col("__ia") < col("__ib"))
      .where(cosineSimilarity(col("__va"), col("__vb")) >= threshold)
      .select(when(col("__ca") > col("__cb") ||
            (col("__ca") === col("__cb") && col("__ia") > col("__ib")),
          col("__ia")).otherwise(col("__ib")).as("__loser"))
      .distinct()

    base.join(losers, col(idCol) === col("__loser"), "left")
      .select(col(idCol), col("cell"), col("ccosq"), col("__loser").isNull.as("kept"))
  }

  /** DuckDB replay of [[semDedup]] — the pinned centroids ride the SQL as
    * literal VALUES rows (single-sourced from the same array the Spark
    * plan consumes, so impl and oracle cannot drift). Cap-free: callers
    * comparing against this oracle must pass `maxCellPairs = Long.MaxValue`
    * (same contract as the `dedup_cosine_lsh` oracle). */
  def semDedupOracleSql(table: String, idCol: String, vecCol: String,
                        centroidsMicro: Array[Long], dim: Int, nCells: Int,
                        threshold: Double): String = {
    require(centroidsMicro.length == dim * nCells,
      s"centroids length ${centroidsMicro.length} != dim*nCells = ${dim * nCells}")
    val rows = (0 until nCells).map { p =>
      s"(${(p + 1).toLong}, [${centroidsMicro.slice(p * dim, (p + 1) * dim).mkString("::BIGINT, ")}::BIGINT])"
    }.mkString(",\n                ")
    s"""WITH cv(cell, c) AS (VALUES
                $rows),
         qn AS (SELECT $idCol,
                  list_transform(range(1, ${dim + 1}), i -> CAST(floor(CAST($vecCol[i] AS DOUBLE) * 4096.0) AS BIGINT)) AS qv
                FROM $table),
         dt AS (SELECT $idCol, cell,
                  CAST(list_sum(list_transform(range(1, ${dim + 1}), i -> qv[i] * c[i])) AS BIGINT) AS dot
                FROM qn CROSS JOIN cv),
         asg AS (SELECT $idCol, cell, dot FROM (
                   SELECT $idCol, cell, dot,
                     row_number() OVER (PARTITION BY $idCol ORDER BY dot DESC, cell) AS rn
                   FROM dt) WHERE rn = 1),
         nn AS (SELECT $idCol, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2 FROM qn),
         cc AS (SELECT a.$idCol, a.cell, nn.n2,
                  CASE WHEN nn.n2 > 0
                       THEN CAST(floor(1e6 * CAST(a.dot AS DOUBLE) / sqrt(CAST(nn.n2 AS DOUBLE))) AS BIGINT)
                       ELSE 0 END AS ccosq
                FROM asg a JOIN nn ON a.$idCol = nn.$idCol),
         pr AS (SELECT a.$idCol AS ia, b.$idCol AS ib,
                  a.ccosq AS ca, b.ccosq AS cb
                FROM cc a JOIN cc b ON a.cell = b.cell AND a.$idCol < b.$idCol
                JOIN $table x ON x.$idCol = a.$idCol
                JOIN $table y ON y.$idCol = b.$idCol
                WHERE a.n2 > 0 AND b.n2 > 0
                  AND list_cosine_similarity(x.$vecCol::DOUBLE[], y.$vecCol::DOUBLE[]) >= $threshold),
         lose AS (SELECT DISTINCT
                    CASE WHEN ca > cb OR (ca = cb AND ia > ib) THEN ia ELSE ib END AS lid
                  FROM pr)
         SELECT c.$idCol, CAST(c.cell AS BIGINT) AS cell, c.ccosq, (lose.lid IS NULL) AS kept
         FROM cc c LEFT JOIN lose ON c.$idCol = lose.lid"""
  }

  /** DuckDB replay of [[semDedupIncrementalPairs]]: assignment replayed
    * over the WHOLE table with the same pinned centroids (single-sourced
    * array), then cross-side pairs only — `batchPred` picks the batch
    * rows, the corpus is its complement. Cap-free like the
    * `dedup_semantic` oracle. */
  def semDedupIncOracleSql(table: String, idCol: String, vecCol: String,
                           centroidsMicro: Array[Long], dim: Int, nCells: Int,
                           threshold: Double, batchPred: String): String = {
    require(centroidsMicro.length == dim * nCells,
      s"centroids length ${centroidsMicro.length} != dim*nCells = ${dim * nCells}")
    val rows = (0 until nCells).map { p =>
      s"(${(p + 1).toLong}, [${centroidsMicro.slice(p * dim, (p + 1) * dim).mkString("::BIGINT, ")}::BIGINT])"
    }.mkString(",\n                ")
    s"""WITH cv(cell, c) AS (VALUES
                $rows),
         qn AS (SELECT $idCol,
                  list_transform(range(1, ${dim + 1}), i -> CAST(floor(CAST($vecCol[i] AS DOUBLE) * 4096.0) AS BIGINT)) AS qv
                FROM $table),
         dt AS (SELECT $idCol, cell,
                  CAST(list_sum(list_transform(range(1, ${dim + 1}), i -> qv[i] * c[i])) AS BIGINT) AS dot
                FROM qn CROSS JOIN cv),
         asg AS (SELECT $idCol, cell FROM (
                   SELECT $idCol, cell, dot,
                     row_number() OVER (PARTITION BY $idCol ORDER BY dot DESC, cell) AS rn
                   FROM dt) WHERE rn = 1),
         nn AS (SELECT $idCol, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2 FROM qn),
         cc AS (SELECT a.$idCol, a.cell, nn.n2
                FROM asg a JOIN nn ON a.$idCol = nn.$idCol),
         bid AS (SELECT $idCol FROM $table WHERE $batchPred)
         SELECT a.$idCol AS id_a, b.$idCol AS id_b,
           round(list_cosine_similarity(x.$vecCol::DOUBLE[], y.$vecCol::DOUBLE[]), 6) AS cosine
         FROM cc a JOIN cc b ON a.cell = b.cell
         JOIN bid ON a.$idCol = bid.$idCol
         JOIN $table x ON x.$idCol = a.$idCol
         JOIN $table y ON y.$idCol = b.$idCol
         WHERE b.$idCol NOT IN (SELECT $idCol FROM bid)
           AND a.n2 > 0 AND b.n2 > 0
           AND list_cosine_similarity(x.$vecCol::DOUBLE[], y.$vecCol::DOUBLE[]) >= $threshold"""
  }
}
