package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.engine.{Iterate, Staged}

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * (split/transform/filter/aggregate over arrays) — no UDFs, no shuffles
  * beyond the final aggregation, so each op is a narrow map over the scan
  * and survives any scale-up: per-row cost is O(tokens), data never leaves
  * the partition.
  */
object TextAnalysis {
  import Tables._

  /** Whitespace tokens (documents.text is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** One row per lowercase letter run: the word tokenizer the subword
    * learners (BPE, WordPiece, unigram) share. Empty runs survive; the
    * callers filter them.
    */
  private def wordTokens(text: Column): Column =
    explode(split(lower(text), "[^a-z]+"))

  /** BPE-ish subword count estimate: words + extra tokens for long words
    * (a word of length L costs ceil(L/4) subwords, floor 1) — a standard
    * whitespace+length heuristic when no tokenizer model is shipped.
    */
  def bpeishCount(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, t) => acc + greatest(lit(1L), ceil(length(t) / lit(4.0d))))

  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopEs = Seq("el", "la", "de", "y", "que", "en", "un")
  private val stopDe = Seq("der", "die", "das", "und", "zu", "ist", "ein")

  private def hitCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(words))).cast("bigint")

  /** Token counts: whitespace + BPE-ish estimate. */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      size(tokens(col("text"))).cast("bigint").as("n_tokens"),
      bpeishCount(col("text")).as("n_bpeish"),
      length(col("text")).cast("bigint").as("n_chars"))
      .orderBy("doc_id")

  private def meanWordLen(text: Column): Column = {
    val nTok = size(tokens(text)).cast("double")
    (length(text) - (nTok - 1)) / nTok
  }

  private def stopRatio(text: Column): Column =
    hitCount(text, stopEn) / size(tokens(text)).cast("double")

  private def digitRatio(text: Column): Column =
    length(regexp_replace(text, "[^0-9]", "")).cast("double") /
      length(text).cast("double")

  /** Blended 0..1 quality score (unrounded): in-range word length + some
    * stopwords + few digits — the shape of Gopher/C4-style filters.
    */
  def qualityCol(text: Column): Column =
    when(meanWordLen(text).between(2.0, 12.0), 0.4).otherwise(0.0) +
      least(stopRatio(text) * 3.0, lit(0.4)) +
      when(digitRatio(text) < 0.2, 0.2).otherwise(0.0)

  /** Predicted language: CJK-script regex, else argmax of per-language
    * stopword hits (n-gram/stopword heuristic — the no-model baseline).
    */
  def predLangCol(text: Column): Column = {
    val en = hitCount(text, stopEn)
    val es = hitCount(text, stopEs)
    val de = hitCount(text, stopDe)
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(en >= es && en >= de, "en")
      .when(es >= de, "es")
      .otherwise("de")
  }

  /** Quality scoring query: ratios + blended score per document. */
  def qualityScore(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      round(meanWordLen(col("text")), 6).as("mean_word_len"),
      round(stopRatio(col("text")), 6).as("stopword_ratio"),
      round(digitRatio(col("text")), 6).as("digit_ratio"),
      round(qualityCol(col("text")), 6).as("quality"))
      .orderBy("doc_id")

  /** Language-ID query: labeled vs predicted language per document. */
  def langId(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      col("lang").as("labeled_lang"),
      predLangCol(col("text")).as("pred_lang"))
      .orderBy("doc_id")

  /** t31 — language-ID CONFUSION MATRIX: t3's detector judged against
    * the declared `lang` label, rolled up to (labeled, predicted)
    * counts with per-label shares and a correctness flag — the audit
    * artifact a corpus run publishes before trusting either column
    * (mislabeled ingests and detector drift both show up as off-
    * diagonal mass). Composition, not recomputation: the per-doc
    * prediction IS t3's (same codegen'd projection), the matrix is one
    * |langs|²-row aggregate, and per-label totals rejoin as a broadcast
    * (a16's partials discipline — never a window over the fact table).
    * The share division is one double op on exact integer counts, so
    * the matrix is fully oracled via t3's SQL twin.
    */
  def langConfusion(s: SparkSession, d: String): DataFrame = {
    val cm = langId(s, d)
      .groupBy("labeled_lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
    val tot = cm.groupBy("labeled_lang").agg(sum("n_docs").as("n_label"))
    cm.join(broadcast(tot), "labeled_lang")
      .select(col("labeled_lang"), col("pred_lang"), col("n_docs"),
        round(col("n_docs") / col("n_label"), 6).as("share"),
        (col("labeled_lang") === col("pred_lang")).cast("int").as("correct"))
      .orderBy("labeled_lang", "pred_lang")
  }

  /** Document fingerprinting: 64-bit content hash of normalized text plus a
    * rolling-shingle min-hash — the cheap building block for exact and
    * fuzzy identity (xxhash64 has no DuckDB twin → rows-only, pinned by
    * spec).
    */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    documents(s, d).select(
      col("doc_id"),
      xxhash64(norm).as("content_hash"),
      array_min(transform(Dedup.shingles(col("text"), 3), sh => xxhash64(sh))).as("min_shingle_hash"))
      .orderBy("doc_id")
  }

  /** The composed corpus-cleaning pipeline — quality gate → token-count
    * bounds → exact dedup (keep smallest doc_id per identical text) →
    * per-doc predicted language — i.e. the C4/Gopher-style chain every
    * LLM training-data run performs, as ONE declared narrow-then-one-
    * shuffle query: the scoring/filter stage is a pure projection over
    * the scan, and the only shuffle is the dedup's partition-by-text
    * (at 100 TB you'd swap the window key to xxhash64(text), same plan
    * shape). Fully deterministic → DuckDB-oracled end to end.
    */
  def corpusPipeline(s: SparkSession, d: String,
      minQuality: Double = 0.5, minTokens: Int = 5, maxTokens: Int = 5000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("text").orderBy("doc_id")
    documents(s, d)
      .select(col("doc_id"), col("text"),
        size(tokens(col("text"))).cast("bigint").as("n_tokens"),
        qualityCol(col("text")).as("quality"),
        predLangCol(col("text")).as("pred_lang"))
      .filter(col("quality") >= minQuality &&
        col("n_tokens").between(minTokens, maxTokens))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("pred_lang"), col("n_tokens"),
        round(col("quality"), 6).as("quality"))
      .orderBy("doc_id")
  }

  /** [[corpusPipeline]] with in-flight audit counters via `observe()`:
    * rows entering, rows surviving the quality gate, and tokens kept are
    * collected DURING the one pipeline pass — zero extra scans, the
    * production alternative to recounting each stage with separate jobs
    * (which doubles the I/O a 100 TB cleaning run pays). The observation
    * completes with the sink action; the spec pins the counters against
    * independently recomputed stage counts.
    */
  def corpusPipelineAudited(s: SparkSession, d: String):
      (DataFrame, org.apache.spark.sql.Observation, org.apache.spark.sql.Observation) = {
    val inObs = new org.apache.spark.sql.Observation("graft_p1_in")
    val keptObs = new org.apache.spark.sql.Observation("graft_p1_kept")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("text").orderBy("doc_id")
    val out = documents(s, d)
      .observe(inObs, count(lit(1)).as("n_in"))
      .select(col("doc_id"), col("text"),
        size(tokens(col("text"))).cast("bigint").as("n_tokens"),
        qualityCol(col("text")).as("quality"),
        predLangCol(col("text")).as("pred_lang"))
      .filter(col("quality") >= 0.5 && col("n_tokens").between(5, 5000))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .observe(keptObs,
        count(lit(1)).as("n_kept"), sum("n_tokens").as("tokens_kept"))
      .select(col("doc_id"), col("pred_lang"), col("n_tokens"),
        round(col("quality"), 6).as("quality"))
    (out, inObs, keptObs)
  }

  // ---- PII redaction -------------------------------------------------
  // The synthetic corpus is digit-free, so the declared query augments
  // each document with DETERMINISTIC doc_id-derived contact strings
  // (same construction in the DuckDB oracle) — the redaction operator
  // itself is generic: count + strip emails, IPv4s, and long digit runs.

  private[ops] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[ops] val ipRe = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
  private[ops] val numRe = "\\b\\d{8,}\\b"

  /** Strip PII in a fixed pass order (emails first — their local parts may
    * contain digits; long-digit runs last). Pure codegen'd regexes: a
    * narrow map at any scale.
    */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipRe, "<IP>"),
      numRe, "<NUM>")

  private def piiDirty: Column = concat(
    col("text"),
    lit(" contact user"), col("doc_id").cast("string"), lit("@mail.example.com"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 7) % 256).cast("string"), lit(".1")))
      .otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      concat(lit(" acct "), (col("doc_id") * 1000003L + 12345678L).cast("string")))
      .otherwise(lit("")))

  /** PII-redaction query: per-document match counts + md5 of the scrubbed
    * text (the cheap equality witness for the full redacted payload).
    */
  def piiRedaction(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), piiDirty.as("dirty"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("dirty"), lit(emailRe), lit(0))).cast("bigint").as("n_emails"),
        size(regexp_extract_all(col("dirty"), lit(ipRe), lit(0))).cast("bigint").as("n_ips"),
        size(regexp_extract_all(col("dirty"), lit(numRe), lit(0))).cast("bigint").as("n_nums"),
        md5(redact(col("dirty"))).as("redacted_md5"))
      .orderBy("doc_id")

  // ---- Repetition / diversity signals --------------------------------

  /** Gopher-style repetition signals: top-token fraction and unique-token
    * ratio from a two-level (doc_id, token) aggregation — the scalable
    * shape: map-side partial counts, keys never wider than (id, token) —
    * plus a projection-only duplicate-trigram fraction. One narrow join on
    * doc_id stitches them (both sides already hash-partitioned by doc_id).
    */
  def repetitionSignals(s: SparkSession, d: String): DataFrame =
    repetitionSignalsCore(documents(s, d).select(col("doc_id"), col("text")))

  private[graft] def repetitionSignalsCore(docs: DataFrame): DataFrame = {
    val tri = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("tris"))
      .select(col("doc_id"),
        (lit(1.0) - size(array_distinct(col("tris"))).cast("double")
          / size(col("tris")).cast("double")).as("dup_trigram_frac"))
    val tc = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val agg = tc.groupBy("doc_id").agg(
      (max(col("c")).cast("double") / sum(col("c")).cast("double")).as("top_token_frac"),
      (count(lit(1)).cast("double") / sum(col("c")).cast("double")).as("unique_token_ratio"))
    agg.join(tri, "doc_id")
      .select(col("doc_id"),
        round(col("top_token_frac"), 6).as("top_token_frac"),
        round(col("unique_token_ratio"), 6).as("unique_token_ratio"),
        round(col("dup_trigram_frac"), 6).as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary heavy hitters: global top-k tokens by frequency.
    * Exact two-level aggregation (map-side partial combine is automatic);
    * the final top-k is a TakeOrdered over (count desc, token) — no full
    * sort, no driver-side fold.
    */
  def vocabTopK(s: SparkSession, d: String, k: Int = 100): DataFrame =
    documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token"))
      .limit(k)

  /** Benchmark-contamination check: per corpus document, how many of its
    * distinct trigram shingles appear in ANY benchmark document (here: the
    * deterministic doc_id % 50 == 0 slice stands in for the eval set).
    * Shape at scale: the benchmark shingle set is the SMALL side of a
    * left-semi join on 8-byte hashed shingles (broadcast-able; and
    * semi-join never materializes match multiplicity), then one groupBy
    * per doc. The standard pre-training decontamination pass.
    */
  def contamination(s: SparkSession, d: String,
      benchMod: Long = 50, flagFrac: Double = 0.2): DataFrame =
    contaminationImpl(s, d, benchMod, flagFrac, bloomFpp = None)

  /** [[contamination]] with a Bloom-filter prefilter on the corpus side —
    * the 100 TB shape. The exact semi-join is only reached by shingles
    * the sketch says MIGHT be benchmark shingles, so the join input drops
    * from |corpus shingles| to |true overlap| + fpp·|corpus shingles|; a
    * benchmark of 10M distinct shingles at 1% fpp is a ~12 MB sketch —
    * broadcastable to any cluster size, where even the hashed benchmark
    * shingle TABLE may not be. The exact semi-join then removes the false
    * positives, so the operator's output is IDENTICAL to [[contamination]]
    * (same oracle) — sketch for the data reduction, join for exactness.
    */
  def bloomContamination(s: SparkSession, d: String,
      benchMod: Long = 50, flagFrac: Double = 0.2, fpp: Double = 0.01): DataFrame =
    contaminationImpl(s, d, benchMod, flagFrac, bloomFpp = Some(fpp))

  private def contaminationImpl(s: SparkSession, d: String,
      benchMod: Long, flagFrac: Double, bloomFpp: Option[Double]): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))
      .cache() // shingling is the dominant cost; reused by bench side,
               // corpus side, and the per-doc base below
    val sh = docs.select(col("doc_id"), explode(transform(col("sh"), x => xxhash64(x))).as("shingle"))
    val bench = sh.filter(col("doc_id") % benchMod === 0).select("shingle").distinct()
    val corpus = sh.filter(col("doc_id") % benchMod =!= 0)
    val prefiltered = bloomFpp match {
      case None => corpus
      case Some(f) =>
        val cached = bench.cache()
        // stat.bloomFilter is one distributed agg; the sketch (driver →
        // broadcast) is KB–MB, never data-sized
        val bloom = cached.stat.bloomFilter("shingle", math.max(cached.count(), 1L), f)
        val bc = s.sparkContext.broadcast(bloom)
        // UDF justified: sketch probe has no builtin; runs before the
        // shuffle so the rows it kills never leave the map side
        val mightContain = udf((h: Long) => bc.value.mightContainLong(h))
        corpus.filter(mightContain(col("shingle")))
    }
    val matched = prefiltered
      .join(bench, Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    docs.filter(col("doc_id") % benchMod =!= 0)
      .select(col("doc_id"), col("n_sh"))
      .join(matched, Seq("doc_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("frac", col("n_overlap").cast("double") / col("n_sh").cast("double"))
      .select(col("doc_id"), col("n_sh"), col("n_overlap"),
        round(col("frac"), 6).as("overlap_frac"),
        when(col("frac") >= flagFrac, 1).otherwise(0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Sequence packing for pretraining batch construction: documents are
    * laid out in a stable order (doc_id within language) and assigned to
    * fixed-token-budget training sequences by cumulative token offset —
    * `seq_id = floor(start_offset / budget)`. One window pass, fully
    * deterministic, so shards can be built independently per partition
    * and reproduced by any engine (oracled). The greedy never-split
    * variant needs per-bin running state; the offset-chunk form is the
    * standard distributed approximation.
    */
  def sequencePacking(s: SparkSession, d: String, budget: Double = 8192.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    documents(s, d)
      .select(col("lang"), col("doc_id"),
        size(tokens(col("text"))).cast("bigint").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("seq_id",
        floor((col("cum") - col("n_tokens")) / lit(budget)).cast("bigint"))
      .select("lang", "doc_id", "n_tokens", "seq_id")
      .orderBy("lang", "doc_id")
  }

  /** p19 — packed-sequence ATTENTION-BOUNDARY manifest: for every
    * training sequence p2 packs, the dataloader artifact that makes
    * cross-document attention masking possible — per (lang, seq_id)
    * bin: document count, token count, the FILL (tokens landing in the
    * bin including the offset-chunk overflow tail), and one
    * content-addressed digest of the ordered (doc_id:start_offset)
    * boundary list (p17's discipline: any changed, reordered, or
    * re-packed document changes the digest, a match proves an
    * identical block-diagonal mask layout). Within-bin start offsets
    * fall out of the SAME cumulative sum p2 already computes — no
    * second window — and the per-bin digest is one sorted collect_list
    * over bin-sized groups (t27's reassembly discipline). Fully
    * oracled: DuckDB replays the window and digests the identical
    * ordered string_agg.
    */
  def packedManifest(s: SparkSession, d: String, budget: Long = 8192L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val packed = documents(s, d)
      .select(col("lang"), col("doc_id"),
        size(tokens(col("text"))).cast("bigint").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("seq_id",
        floor((col("cum") - col("n_tokens")) / lit(budget.toDouble)).cast("bigint"))
      .withColumn("off",
        col("cum") - col("n_tokens") - col("seq_id") * lit(budget))
    packed.groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tok"),
        max("cum").as("max_cum"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("off")))),
          x => concat_ws(":", x("doc_id"), x("off"))), "|")).as("boundaries_md5"))
      .withColumn("fill", col("max_cum") - col("seq_id") * lit(budget))
      .select("lang", "seq_id", "n_docs", "n_tok", "fill", "boundaries_md5")
      .orderBy("lang", "seq_id")
  }

  /** Consistent (hash-ordered) sampling: per language, the k documents
    * with the smallest md5(doc_id) — a DETERMINISTIC sample that any
    * engine reproduces bit-for-bit (unlike RNG-stream sampling, which is
    * engine-specific — compare [[stratifiedSample]], rows-only). The
    * standard trick for stable debug/eval subsets: membership depends only
    * on the key, never on partitioning, row order, or seed streams.
    */
  def hashSample(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("hk", "doc_id")
    documents(s, d)
      .select(col("lang"), col("doc_id"), md5(col("doc_id").cast("string")).as("hk"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("lang"), col("rn"), col("doc_id"))
      .orderBy("lang", "rn")
  }

  /** Stratified sampling by language — seeded per-stratum Bernoulli
    * (df.stat.sampleBy), the standard rebalancing step before training.
    * Engine-specific RNG stream → rows-only; per-stratum fractions are
    * pinned by a binomial-CI spec.
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val fractions = Map("en" -> 0.25, "es" -> 0.5, "de" -> 0.5, "fr" -> 0.5, "zh" -> 1.0)
    documents(s, d)
      .stat.sampleBy("lang", fractions, 7L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy("lang")
  }

  /** Exact distributed heavy hitters: all tokens with global count ≥
    * minCount, WITHOUT shuffling the full distinct-token set.
    *
    * Phase 1 (candidates): each partition counts its own slice in a hash
    * map and emits only tokens with local count ≥ ceil(minCount / P) —
    * sound by pigeonhole: a token with global count ≥ minCount over P
    * partitions must clear that bar in at least one, so no true heavy
    * hitter is lost (the classic distributed-threshold bound).
    * Phase 2 (verify): exact counts for candidate tokens only, via a
    * broadcast semi-join — candidates are near-heavy tokens, a set
    * orders of magnitude smaller than the vocabulary, so the only
    * aggregation shuffle carries candidates, not every distinct token.
    * `mapPartitions` is justified here: phase 1 is genuine per-partition
    * imperative logic (a bounded local frequency map) that no built-in
    * expresses.
    *
    * Scale guard: the pigeonhole bar only PRUNES when ceil(minCount / P)
    * is meaningfully above 1 — at cluster partition counts (P in the
    * 10⁴–10⁶ range) with a modest minCount the bar rounds to 1, every
    * distinct token becomes a candidate, and the broadcast ships the
    * whole vocabulary. When the bar is below [[pigeonholeMinBar]] the
    * candidate phase is pure overhead, so we fall back to the plain
    * exact two-level aggregation (map-side partial combine carries one
    * (token, count) per distinct token per task — the same shuffle the
    * candidate path's phase 2 would do anyway once it stops pruning).
    *
    * The vocabulary-pruning / boilerplate-token pass of a corpus
    * pipeline — the candidate trick makes it cheap when minCount ≫ P,
    * and the guard keeps it correct-and-sane when it isn't.
    */
  def heavyHitters(s: SparkSession, d: String, minCount: Long = 500): DataFrame = {
    import s.implicits._
    val toks = documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .as[String]
    val p = math.max(1, toks.rdd.getNumPartitions)
    val localBar = (minCount + p - 1) / p // ceil(minCount / P)
    val exact =
      if (!pigeonholeBarBites(minCount, p)) {
        // bar too low to prune: exact two-level aggregation, one pass
        toks.toDF("token").groupBy("token").agg(count(lit(1)).as("n"))
      } else {
        val cached = toks.cache() // two passes: candidates + exact verify
        val candidates = cached.mapPartitions { it =>
          val m = scala.collection.mutable.HashMap.empty[String, Long]
          it.foreach(t => m.update(t, m.getOrElse(t, 0L) + 1L))
          m.iterator.collect { case (t, c) if c >= localBar => t }
        }.distinct().toDF("token")
        cached.toDF("token")
          .join(broadcast(candidates), Seq("token"), "left_semi")
          .groupBy("token").agg(count(lit(1)).as("n"))
      }
    exact
      .filter(col("n") >= minCount)
      .orderBy(desc("n"), asc("token"))
  }

  /** One oracle for every exact heavy-hitter path (t12 pigeonhole, t17
    * CMS prefilter): sketches and candidate tricks decide what ships,
    * never what's true.
    */
  val heavyHittersOracle: String =
    """SELECT token, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token HAVING count(*) >= 500
      |ORDER BY n DESC, token""".stripMargin

  /** Minimum useful per-partition pigeonhole bar: below this, the
    * candidate set approaches the full vocabulary and candidate-broadcast
    * costs more than it saves. Exposed for the many-partition spec.
    */
  val pigeonholeMinBar: Long = 8L

  /** The path decision in [[heavyHitters]]: true iff ceil(minCount / p)
    * clears [[pigeonholeMinBar]] — i.e. the per-partition bar actually
    * prunes. Exposed so the spec can pin the cluster-scale regime
    * (p ≥ minCount → bar = 1 → exact-agg fallback) without driving a
    * million-partition job.
    */
  def pigeonholeBarBites(minCount: Long, p: Int): Boolean =
    (minCount + p - 1) / math.max(1, p) >= pigeonholeMinBar

  /** Phase-1 candidate count under the pigeonhole bar, for the spec that
    * pins candidate-set boundedness on a many-partition fixture. Mirrors
    * [[heavyHitters]]'s candidate phase exactly (no guard — the spec
    * probes the raw bound's behavior).
    */
  def pigeonholeCandidateCount(s: SparkSession, d: String, minCount: Long,
      numPartitions: Int): Long = {
    import s.implicits._
    val toks = documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .as[String]
      .repartition(numPartitions)
    val localBar = math.max(1L, (minCount + numPartitions - 1) / numPartitions)
    toks.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach(t => m.update(t, m.getOrElse(t, 0L) + 1L))
      m.iterator.collect { case (t, c) if c >= localBar => t }
    }.distinct().count()
  }

  /** Count-min-sketch prefiltered heavy hitters — identical output to
    * [[heavyHitters]] (t12), different scale mechanics. One distributed
    * sketch aggregation builds a FIXED-size frequency summary
    * (width×depth counters — independent of vocabulary size and of the
    * partition count, unlike t12's pigeonhole candidate set); it comes
    * back to the driver as KBs, goes out as a broadcast, and a map-side
    * probe drops every token whose estimated count is below `minCount`
    * BEFORE the aggregation shuffle. CMS error is one-sided (estimate ≥
    * true count, always), so no true heavy hitter can be dropped; the
    * exact count over the survivors then removes the overestimates, so
    * the OUTPUT is exact — the sketch only decides what never ships.
    * This is the shape that still works where t12's bar degenerates
    * (minCount ≲ P at cluster partition counts): sketch size is fixed at
    * eps/confidence no matter how wide the vocabulary gets. Tokens are
    * pre-hashed to xxhash64 longs so the build and the probe use the
    * same key type (a 64-bit collision folds two tokens' counts
    * TOGETHER — still overestimate-only, so exactness is unaffected).
    */
  def cmsHeavyHitters(s: SparkSession, d: String, minCount: Long = 500,
      eps: Double = 2e-4, confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val toks = documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .withColumn("h", xxhash64(col("token")))
      .cache() // two passes: sketch build + prefiltered exact count
    // stat.countMinSketch is one distributed agg; the sketch (driver →
    // broadcast) is ~e/eps × ln(1/(1-conf)) counters, never data-sized
    val cms = toks.stat.countMinSketch(col("h"), eps, confidence, seed)
    val bc = s.sparkContext.broadcast(cms)
    // UDF justified: sketch probe has no builtin; runs map-side so the
    // light-token rows it kills never reach the shuffle
    val mightBeHeavy = udf((h: Long) => bc.value.estimateCount(h) >= minCount)
    toks.filter(mightBeHeavy(col("h")))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(desc("n"), asc("token"))
  }

  /** Deterministic global shuffle into training shards. Epoch-0 data
    * order — shard membership AND within-shard position — is a pure
    * function of the stable document key: shard = first two hex chars of
    * md5(doc_id) (256 uniform buckets), position = rank of the full
    * digest within the shard. No RNG state, and no row_number over a
    * global ORDER BY (an empty-partition window collapses the whole
    * table onto one task); the only wide op is the per-shard window,
    * hash-partitioned on shard exactly like the downstream per-shard
    * writers. Rerunning on any engine, any input partitioning, any day
    * reproduces the identical layout — what makes training runs
    * resumable and data ablations comparable. At 100 TB, widen the
    * prefix (4 hex chars → 65 536 shards) so a shard stays
    * executor-sized; the window stays per-shard either way.
    */
  def shardAssign(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("hk", "doc_id")
    documents(s, d)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("hk"))
      .withColumn("shard", substring(col("hk"), 1, 2))
      .withColumn("pos", row_number().over(w))
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  /** Deterministic train/valid/test split by hash bucket — the
    * production replacement for seeded `randomSplit` (o17): membership
    * is a pure function of the key (first two hex chars of md5(doc_id);
    * hex compares lexicographically = numerically), so a document keeps
    * its split across reruns, repartitions, engines, and incremental
    * re-ingests — the invariant that prevents silent train/test leakage
    * when a 100 TB corpus is rebuilt. Buckets 00–cb train (204/256 ≈
    * 79.7%), cc–e5 valid (26/256 ≈ 10.2%), e6–ff test. Exactly oracled —
    * unlike RNG splits, a second engine recomputes the same membership.
    */
  def hashSplit(s: SparkSession, d: String): DataFrame = {
    val b = substring(md5(col("doc_id").cast("string")), 1, 2)
    documents(s, d)
      .withColumn("split",
        when(b < "cc", "train").when(b < "e6", "valid").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .orderBy("split")
  }

  /** p20 — DPO-STYLE PREFERENCE-PAIR CONSTRUCTION: per source stratum,
    * pair the K best documents with the K worst by quality score —
    * the best-vs-worst recipe used to bootstrap preference data for
    * DPO/RLHF reward modeling when no human labels exist yet. Rank i's
    * chosen doc (i-th highest quality) is paired with rank i's rejected
    * doc (i-th lowest), so margins are maximal at rank 1 and non-
    * increasing in rank; `margin = chosen_q - rejected_q >= 0` always,
    * because K <= floor(n/2) keeps the two rank windows disjoint (the
    * bottom order is the exact reverse permutation of the top order:
    * (q DESC, id ASC) vs (q ASC, id DESC)).
    *
    * Scale: the `row_number <= K` filter right above each window lets
    * Spark's InferWindowGroupLimit insert a WindowGroupLimitExec — a
    * map-side per-partition top-K BEFORE the shuffle — so each
    * stratum ships K rows per input partition, never a full sort of
    * the corpus. The per-source count is a separate tiny aggregate
    * broadcast back for the floor(n/2) refinement. Quality is rounded
    * to 6dp BEFORE ranking so the order (and hence the oracle
    * comparison) is identical across engines; ties break on doc_id.
    */
  def preferencePairs(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val q = documents(s, d).select(col("doc_id"), col("source"),
      round(qualityCol(col("text")), 6).as("q"))
    val wTop = Window.partitionBy("source")
      .orderBy(col("q").desc, col("doc_id").asc)
    val wBot = Window.partitionBy("source")
      .orderBy(col("q").asc, col("doc_id").desc)
    val chosen = q.withColumn("pair_rank", row_number().over(wTop))
      .filter(col("pair_rank") <= k)
      .select(col("source"), col("pair_rank"),
        col("doc_id").as("chosen_id"), col("q").as("cq"))
    val rejected = q.withColumn("pair_rank", row_number().over(wBot))
      .filter(col("pair_rank") <= k)
      .select(col("source"), col("pair_rank"),
        col("doc_id").as("rejected_id"), col("q").as("rq"))
    val counts = q.groupBy("source").agg(count(lit(1)).as("n"))
    chosen.join(rejected, Seq("source", "pair_rank"))
      .join(broadcast(counts), "source")
      .filter(col("pair_rank") <= least(lit(k.toLong), floor(col("n") / 2)))
      .select(col("source"), col("pair_rank"), col("chosen_id"),
        col("rejected_id"), round(col("cq") - col("rq"), 6).as("margin"))
      .orderBy("source", "pair_rank")
  }

  /** p21 — LEAKAGE-SAFE TRAIN/VALID/TEST SPLIT: split assignment is a
    * hash of the duplicate-GROUP representative, not of the document,
    * so exact duplicates can never straddle train and test — the
    * contamination channel a naive per-doc hash split (p6) leaves open
    * (a duplicated document landing on both sides silently leaks test
    * data into training). Group = identical text (d1's exact-dedup
    * notion); representative = min doc_id; every member inherits the
    * representative's p6 bucket thresholds, so on a dedup-clean corpus
    * p21 degenerates to exactly p6.
    *
    * Scale: the shuffle key is md5(text) — a fixed 16-byte digest,
    * never the document body — and the whole op is two hash
    * aggregations (text-group rollup, then split rollup over
    * group-count-sized data); no window, no join. The no-straddle
    * theorem is pinned in the spec by recomputing groups-with->1-split
    * (must be 0).
    */
  def leakageSplit(s: SparkSession, d: String): DataFrame = {
    val groups = documents(s, d)
      .groupBy(md5(col("text")).as("th"))
      .agg(min("doc_id").as("rep"), count(lit(1)).as("n_docs_g"),
        sum("n_chars").as("n_chars_g"))
    val b = substring(md5(col("rep").cast("string")), 1, 2)
    groups
      .withColumn("split",
        when(b < "cc", "train").when(b < "e6", "valid").otherwise("test"))
      .groupBy("split")
      .agg(sum("n_docs_g").as("n_docs"), count(lit(1)).as("n_groups"),
        sum("n_chars_g").as("n_chars"))
      .orderBy("split")
  }

  /** p11 — deterministic EPOCH SHUFFLE: the training-order permutation
    * for each epoch as a pure function of (doc_id, epoch) — no RNG
    * state, no global sort. Epoch e orders documents by
    * md5(doc_id ":" e): a fresh pseudorandom permutation per epoch
    * (what shuffle-each-epoch training wants), reproducible from the
    * key alone, so a preempted job resumes mid-epoch at (shard, pos)
    * and a re-run feeds batches in the identical order. Reader shard =
    * first hex nibble (16 readers); `pos` is the within-shard cursor.
    * The only sort is within (epoch, shard) — 1/16 of an epoch per
    * task, the p5 discipline — never a corpus-wide ORDER BY. At 100 TB
    * each shard is written as its own file sequence and `pos` becomes
    * the record offset the data loader seeks to.
    */
  def epochShuffle(s: SparkSession, d: String, epochs: Int = 3): DataFrame = {
    val w = Window.partitionBy("epoch", "shard").orderBy("hk", "doc_id")
    documents(s, d).select(col("doc_id"))
      .withColumn("epoch", explode(sequence(lit(0), lit(epochs - 1))))
      .withColumn("hk", md5(concat(col("doc_id").cast("string"),
        lit(":"), col("epoch").cast("string"))))
      .withColumn("shard", substring(col("hk"), 1, 1))
      .withColumn("pos", row_number().over(w))
      .select("epoch", "shard", "pos", "doc_id")
      .orderBy("epoch", "shard", "pos")
  }

  /** f13 — Unicode NFC normalization via the native
    * [[graft.functions.NfcNormalize]] expression: composed vs decomposed
    * sequences (U+00E9 vs U+0065 U+0301) are byte-different renderings of
    * the same text, so every byte-keyed op upstream — d1's exact-dedup
    * window, t4's fingerprint, d2's shingles — silently misses
    * cross-normalization duplicates unless keys are normalized first.
    * The fixture plants BOTH forms deterministically (even doc_ids get
    * composed, odd get decomposed), and the query reports code-point
    * lengths before/after plus an md5 over the normalized bytes — so a
    * normalizer that was identity, or that normalized to NFD instead,
    * hash-mismatches DuckDB's `nfc_normalize`. Narrow map inside
    * whole-stage codegen (the Expression tier's point — no UDF SerDe).
    */
  def unicodeNorm(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NfcNormalize.nfc
    val marker = when(pmod(col("doc_id"), lit(2)) === 0,
      lit(" caf\u00e9"))             // composed: U+00E9
      .otherwise(lit(" cafe\u0301")) // decomposed: e + U+0301
    val dirty = concat(col("text"), marker)
    documents(s, d).select(
      col("doc_id"),
      length(dirty).as("n_raw"),
      length(nfc(dirty)).as("n_nfc"),
      md5(nfc(dirty)).as("nfc_md5"))
      .orderBy("doc_id")
  }

  /** p12 — CURRICULUM ordering: the easy-first feed order curriculum
    * training wants, as a pure function of content — documents fall into
    * quality tiers by FIXED thresholds on the rounded t2 quality score
    * (tier 1 ≥ 0.8 first, then [0.5, 0.8), then the tail), and within a
    * tier the order is p11's deterministic shuffle (shard = first hex
    * nibble of md5(doc_id), pos = within-shard rank) so batches inside a
    * tier stay decorrelated. Fixed thresholds — not ntile — on purpose:
    * a global ntile is a corpus-wide single-task sort (the e11 trap),
    * while threshold tiers need no coordination at all; if data-relative
    * cuts are wanted, compute the two quality cut points as a broadcast
    * aggregate (e15's decile discipline) and keep this shape. The only
    * sort is within (tier, shard) — 1/48th of the corpus per task.
    */
  def curriculumOrder(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("tier", "shard").orderBy("hk", "doc_id")
    documents(s, d)
      .select(col("doc_id"), round(qualityCol(col("text")), 6).as("quality"))
      .withColumn("tier",
        when(col("quality") >= 0.8, 1)
          .when(col("quality") >= 0.5, 2)
          .otherwise(3))
      .withColumn("hk", md5(col("doc_id").cast("string")))
      .withColumn("shard", substring(col("hk"), 1, 1))
      .withColumn("pos", row_number().over(w))
      .select("tier", "shard", "pos", "doc_id", "quality")
      .orderBy("tier", "shard", "pos")
  }

  /** p9 — the assembled clean training corpus, summarized per source:
    * exact dedup (keep the min-id copy per identical text) and benchmark
    * decontamination (t9's shingle-overlap flag) composed into one
    * per-source accounting of what survives and WHY each drop happened.
    * Precedence is explicit — a doc that is both a duplicate and
    * contaminated counts as 'dup' (dedup runs first in the pipeline, so
    * the contamination check never sees it). This is the report a data
    * lead reads before signing off a training mix; the underlying passes
    * are d1's window and t9's semi-join, both already scale-shaped.
    */
  def cleanCorpusSummary(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("text").orderBy("doc_id")
    val corpus = documents(s, d)
      .filter(pmod(col("doc_id"), lit(50)) =!= 0) // bench slice excluded
      .withColumn("rn", row_number().over(w))
      .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
    val contam = contamination(s, d).select(col("doc_id"), col("contaminated"))
    corpus.join(contam, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("rn") > 1, "dup")
          .when(col("contaminated") === 1, "contaminated")
          .otherwise("kept"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("source", "status")
  }

  /** p7 — first-fit-decreasing sequence packing, the NEVER-SPLIT
    * counterpart to p2's offset chunking: documents sorted by token
    * count descending, each placed whole into the first open bin with
    * room (fresh bin when none fits; a doc larger than the budget sits
    * alone). FFD is the classic ≤(11/9)·OPT+1 bin-packing heuristic —
    * p2 wastes nothing but splits documents across sequence boundaries;
    * p7 keeps documents intact and pays bounded slack instead, which is
    * what instruction-tuning and long-context mixes need. The greedy is
    * genuinely imperative, so it runs per language group via
    * `flatMapSortedGroups` — the group STREAMS through the iterator in
    * (n_tok desc, doc_id) order (no per-group collect), and the open-bin
    * list is capped at [[ffdMaxOpen]] (oldest bin retires first), so
    * per-task state is O(maxOpen) regardless of group size. Fully
    * deterministic: sort order and bin choice are pure functions of the
    * data — and therefore DuckDB-replayable: fully oracled since round
    * 11 via a recursive CTE carrying the open-bin list. At 100 TB, pre-shard each language (p5) and pack per shard —
    * the operator's shape is unchanged, only the grouping key widens.
    */
  val ffdMaxOpen: Int = 256
  def ffdPacking(s: SparkSession, d: String, budget: Long = 2048): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
      .select(col("lang"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .as[(String, Long, Long)]
    docs.groupByKey(_._1)
      .flatMapSortedGroups(col("n_tok").desc, col("doc_id")) { (lang, it) =>
        val open = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
        var nextBin = 0
        it.map { case (_, docId, n) =>
          var idx = -1
          var i = 0
          while (idx < 0 && i < open.length) {
            if (open(i)._2 + n <= budget) idx = i
            i += 1
          }
          val bin =
            if (idx >= 0) { val (b, u) = open(idx); open(idx) = (b, u + n); b }
            else {
              val b = nextBin; nextBin += 1
              open += ((b, n))
              if (open.length > ffdMaxOpen) open.remove(0)
              b
            }
          (lang, bin, docId, n)
        }
      }
      .toDF("lang", "bin", "doc_id", "n_tok")
      .orderBy("lang", "bin", "doc_id")
  }

  /** t21 — Zipf fit of the token frequency distribution: least-squares
    * slope of log(count) against log(rank) over the vocabulary — the
    * one-number sanity check that a corpus looks like natural language
    * (slope ≈ −1) rather than boilerplate (flat head) or noise (steep
    * cliff), run before spending GPU-hours on it. One token count agg is
    * the only full-data pass; the rank and the regression run on the
    * vocabulary-sized rollup (the a15/ts3 discipline). The rank itself
    * is [[Cumulative.globalRowNumber]] — a web-scale vocabulary is
    * 10⁶–10⁷ rows, enough that a bare `row_number() OVER (ORDER BY ...)`
    * (one task holds the whole vocab) is the wrong shape even on a
    * rollup; the two-pass rank keeps every stage partition-parallel
    * (pinned in PlanShapeSpec). regr_* are algebraic (map-side
    * partials); results rounded to 6dp for the cross-engine hash.
    */
  def zipfFit(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    Cumulative.globalRowNumber(counts, Seq(desc("n"), asc("token")), "rank")
      .select(log(col("rank").cast("double")).as("lr"),
        log(col("n").cast("double")).as("lc"), col("n"))
      .agg(
        round(expr("regr_slope(lc, lr)"), 6).as("zipf_slope"),
        round(expr("regr_intercept(lc, lr)"), 6).as("zipf_intercept"),
        round(expr("regr_r2(lc, lr)"), 6).as("r2"),
        count(lit(1)).as("n_types"),
        sum("n").as("n_tokens"))
  }

  /** t19 — text normalization (control-char scrub + whitespace
    * collapse + trim), the first stage of every corpus-cleaning recipe.
    * Like t6, the synthetic corpus is already clean, so the operator
    * PLANTS deterministic dirt (control characters and doubled spaces)
    * and must restore the original exactly — `restored = 1` for every
    * row is the self-proving contract, and the md5 of the cleaned text
    * makes the restoration hash-checkable cross-engine. All narrow
    * codegen'd string expressions (regexp_replace chains kept inside
    * RE2's subset per f8's discipline), no shuffle before the output
    * sort.
    */
  def normalizeText(s: SparkSession, d: String): DataFrame = {
    val dirty = concat(
      lit("  "),
      regexp_replace(col("text"), " ", "   "),
      lit("\t\r "))
    val clean = trim(regexp_replace(
      regexp_replace(dirty, "[\\x00-\\x1f]", " "), " {2,}", " "))
    documents(s, d)
      .select(col("doc_id"),
        (clean === col("text")).cast("int").as("restored"),
        md5(clean).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** t18 — corpus trigram table: the n-gram count artifact behind
    * statistical LM scoring (t16 derives bigrams internally; this emits
    * the reusable table itself, the infini-gram / KenLM input shape).
    * One narrow generator (3× token volume, no shuffle until the agg)
    * feeds a count with map-side partial combine, then a frequency cut —
    * at 100 TB the df-cut is what keeps the output a model, not a copy
    * of the corpus: singleton n-grams (the long tail, ~90% of distinct
    * mass) never survive the HAVING. Reuses [[Dedup.shingles]]; docs
    * shorter than the window are dropped on both sides (the helper's
    * whole-text fallback would otherwise pollute the table).
    */
  def trigramCounts(s: SparkSession, d: String, minCount: Long = 5): DataFrame =
    documents(s, d)
      .filter(size(tokens(col("text"))) >= 3)
      .select(explode(Dedup.shingles(col("text"), 3)).as("trigram"))
      .groupBy("trigram").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(desc("n"), asc("trigram"))

  /** TF-IDF top-k terms per document — the classic salience scoring
    * (keyword extraction, boilerplate detection, sparse retrieval). Three
    * grouped aggregations over ONE tokenized pass: per-(doc,token) counts
    * feed both the per-doc length and the document frequency, the corpus
    * size joins in as a broadcast scalar, and the final top-k is a
    * per-doc window over the scored rows. Ranking happens on the ROUNDED
    * score with the token as tiebreaker, so ordering is reproducible
    * across engines (raw fp products of ln() are 1-ulp territory).
    */
  def tfidfTopTerms(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val docs = documents(s, d)
    val tc = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .cache() // feeds doc lengths, document frequencies, and scoring
    val nTok = tc.groupBy("doc_id").agg(sum("c").as("n_tok"))
    val dfreq = tc.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("token"))
    tc.join(nTok, "doc_id").join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round((col("c").cast("double") / col("n_tok").cast("double")) *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("rn"), col("token"), col("tfidf"))
      .orderBy("doc_id", "rn")
  }

  /** RAG-style document chunking: overlapping token windows (64-token
    * chunks, stride 48 → 16-token overlap) — the retrieval-corpus prep
    * step between cleaning and embedding. Pure narrow generator work:
    * tokenize once, explode one small index range per doc, slice — no
    * shuffle until the output sort, codegen throughout, and chunk count
    * scales with doc length so a 100 TB corpus chunks in one map stage.
    * Chunks are fingerprinted (md5 of the joined window) rather than
    * re-emitted as text, keeping the declared result narrow.
    */
  def ragChunks(s: SparkSession, d: String,
      window: Int = 64, stride: Int = 48): DataFrame =
    documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        (lit(1) + ceil(greatest(col("n_tok") - window, lit(0L))
          .cast("double") / stride)).cast("int"))
      .select(col("doc_id"), col("n_tok"),
        explode(transform(sequence(lit(0), col("n_chunks") - 1),
          i => struct(i.as("chunk_idx"),
            slice(col("toks"), i * stride + 1, lit(window)).as("chunk")))).as("ck"))
      .select(col("doc_id"),
        col("ck.chunk_idx").cast("int").as("chunk_idx"),
        size(col("ck.chunk")).as("n_chunk_tokens"),
        md5(array_join(col("ck.chunk"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** Shared by t9 and t11: the bloom variant is exact by construction, so
    * both hash-check against the same DuckDB recomputation.
    */
  /** Shared contamination CTE chain (t9/t11 full query, p9 composition). */
  /** DuckDB replay of t22's sequential BPE training (Sennrich et al.
    * 2016) — the oracle-flip for the last deterministic rows-only text
    * ops (r11 verdict item 6; p7's FFD recursive CTE is the template).
    * The recursive working set is the WHOLE symbolized vocabulary per
    * step; each iteration (a) computes the global argmax pair — count
    * DESC, left, right, exactly bpeMergesFromWords' tie-break — via a
    * second reference to the working table (DuckDB allows it), and
    * (b) replays the LEFT-TO-RIGHT GREEDY merge with window functions:
    * candidate positions, gaps-and-islands run ids (consecutive
    * candidates only arise for left=right runs), odd-position-in-run
    * merges, lag() drops the consumed right element. Validated
    * bit-for-bit against an independent in-memory BPE on sf0.001 and
    * sf0.01 corpora.
    */
  private val bpeReplayCtes: String =
    """WITH RECURSIVE vocab AS (
      |  SELECT w, count(*)::BIGINT AS cnt FROM (
      |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      |    FROM documents)
      |  WHERE len(w) > 0 GROUP BY w
      |),
      |t AS (
      |  SELECT 0 AS step, w AS wid, cnt,
      |         list_append(string_split(w, ''), '</w>') AS sym,
      |         CAST(NULL AS VARCHAR) AS ml, CAST(NULL AS VARCHAR) AS mr,
      |         CAST(NULL AS BIGINT) AS mpc
      |  FROM vocab
      |  UNION ALL
      |  SELECT step + 1, wid, cnt, list(out_s ORDER BY pos) AS sym, l, r, pc
      |  FROM (
      |    SELECT step, wid, cnt, l, r, pc, pos,
      |      CASE WHEN merge_at THEN l || r ELSE s END AS out_s,
      |      COALESCE(lag(merge_at) OVER (PARTITION BY wid ORDER BY pos),
      |        FALSE) AS consumed
      |    FROM (
      |      SELECT *, cand AND (row_number() OVER (
      |          PARTITION BY wid, CASE WHEN cand THEN pos - cpc ELSE NULL END
      |          ORDER BY pos) % 2 = 1) AS merge_at
      |      FROM (
      |        SELECT *, (s = l AND sn = r) AS cand,
      |          SUM(CASE WHEN s = l AND sn = r THEN 1 ELSE 0 END) OVER (
      |            PARTITION BY wid ORDER BY pos
      |            ROWS UNBOUNDED PRECEDING) AS cpc
      |        FROM (
      |          SELECT t.step, t.wid, t.cnt, b.l, b.r, b.pc, g.i AS pos,
      |                 t.sym[g.i] AS s, t.sym[g.i + 1] AS sn
      |          FROM t,
      |            (SELECT s AS l, sn AS r, sum(cnt) AS pc FROM (
      |               SELECT t2.cnt, t2.sym[g2.i] AS s, t2.sym[g2.i + 1] AS sn
      |               FROM t t2, UNNEST(range(1, len(t2.sym))) AS g2(i))
      |             GROUP BY s, sn ORDER BY pc DESC, l, r LIMIT 1) b,
      |            UNNEST(range(1, len(t.sym) + 1)) AS g(i)
      |          WHERE t.step < 20 AND b.pc >= 2
      |        )
      |      )
      |    )
      |  ) WHERE NOT consumed
      |  GROUP BY step, wid, cnt, l, r, pc
      |)""".stripMargin

  /** t25's encode side over the replayed merges: the final-step symbol
    * count per vocab word joined back to the per-(doc, word) counts —
    * the same vocab-sized-encode-then-join shape the Spark operator
    * runs.
    */
  private val wordpieceReplayCtes: String =
    """WITH RECURSIVE vocab AS (
      |  SELECT w, count(*)::BIGINT AS cnt FROM (
      |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      |    FROM documents)
      |  WHERE len(w) > 0 GROUP BY w
      |),
      |t AS (
      |  SELECT 0 AS step, w AS wid, cnt,
      |         list_transform(generate_series(1, len(string_split(w, ''))),
      |           i -> CASE WHEN i = 1 THEN string_split(w, '')[i]
      |                ELSE '##' || string_split(w, '')[i] END) AS sym,
      |         CAST(NULL AS VARCHAR) AS ml, CAST(NULL AS VARCHAR) AS mr,
      |         CAST(NULL AS BIGINT) AS mpc, CAST(NULL AS BIGINT) AS mcl,
      |         CAST(NULL AS BIGINT) AS mcr
      |  FROM vocab
      |  UNION ALL
      |  SELECT step + 1, wid, cnt, list(out_s ORDER BY pos) AS sym,
      |         l, r, pc, cl, cr
      |  FROM (
      |    SELECT step, wid, cnt, l, r, pc, cl, cr, pos,
      |      CASE WHEN merge_at THEN l || regexp_replace(r, '^##', '')
      |           ELSE s END AS out_s,
      |      COALESCE(lag(merge_at) OVER (PARTITION BY wid ORDER BY pos),
      |        FALSE) AS consumed
      |    FROM (
      |      SELECT *, cand AND (row_number() OVER (
      |          PARTITION BY wid, CASE WHEN cand THEN pos - cpc ELSE NULL END
      |          ORDER BY pos) % 2 = 1) AS merge_at
      |      FROM (
      |        SELECT *, (s = l AND sn = r) AS cand,
      |          SUM(CASE WHEN s = l AND sn = r THEN 1 ELSE 0 END) OVER (
      |            PARTITION BY wid ORDER BY pos
      |            ROWS UNBOUNDED PRECEDING) AS cpc
      |        FROM (
      |          SELECT t.step, t.wid, t.cnt, b.l, b.r, b.pc, b.cl, b.cr,
      |                 g.i AS pos, t.sym[g.i] AS s, t.sym[g.i + 1] AS sn
      |          FROM t,
      |            (SELECT p.l, p.r, p.pc, sl.sc AS cl, sr.sc AS cr
      |             FROM (SELECT s AS l, sn AS r, sum(cnt) AS pc FROM (
      |                     SELECT t2.cnt, t2.sym[g2.i] AS s,
      |                            t2.sym[g2.i + 1] AS sn
      |                     FROM t t2, UNNEST(range(1, len(t2.sym))) AS g2(i))
      |                   GROUP BY s, sn HAVING sum(cnt) >= 2) p
      |             JOIN (SELECT u AS s, sum(cnt) AS sc FROM (
      |                     SELECT t3.cnt, unnest(t3.sym) AS u FROM t t3)
      |                   GROUP BY u) sl ON sl.s = p.l
      |             JOIN (SELECT u AS s, sum(cnt) AS sc FROM (
      |                     SELECT t4.cnt, unnest(t4.sym) AS u FROM t t4)
      |                   GROUP BY u) sr ON sr.s = p.r
      |             ORDER BY CAST(p.pc AS HUGEINT)
      |                 * CAST('1237940039285380274899124224' AS HUGEINT)
      |                 // (CAST(sl.sc AS HUGEINT) * CAST(sr.sc AS HUGEINT))
      |                 DESC,
      |               p.l, p.r
      |             LIMIT 1) b,
      |            UNNEST(range(1, len(t.sym) + 1)) AS g(i)
      |          WHERE t.step < 15
      |        )
      |      )
      |    )
      |  ) WHERE NOT consumed
      |  GROUP BY step, wid, cnt, l, r, pc, cl, cr
      |)""".stripMargin

  /** One Viterbi lattice as a recursive CTE (the t40/t41 replay): one
    * row per (word, pos) carrying the WHOLE DP prefix as a
    * LIST(STRUCT(sc, seg)) — e23's carry-the-state-vector discipline —
    * and the per-cell argmax as a correlated max() over (j, piece)
    * candidates with the struct key (score, −j) reproducing the
    * engine's (score DESC, shortest-last-piece) tie rule. Cell scores
    * re-round to 6 dp exactly like the Catalyst fold.
    */
  private def unigramVitCte(out: String, vocab: String): String =
    s"""$out AS (
       |  SELECT w, cnt, 0 AS pos,
       |    [struct_pack(sc := CAST(0.0 AS DOUBLE),
       |                 seg := CAST([] AS VARCHAR[]))] AS dp
       |  FROM uwords
       |  UNION ALL
       |  SELECT w, cnt, pos + 1,
       |    list_append(dp, struct_pack(
       |      sc := max(struct_pack(a := cand, b := negj, c := seg2))['a'],
       |      seg := max(struct_pack(a := cand, b := negj, c := seg2))['c']))
       |  FROM (
       |    SELECT t.w, t.cnt, t.pos, t.dp,
       |      round(t.dp[t.pos + 2 - r.j].sc + v.logp, 6) AS cand,
       |      -r.j AS negj,
       |      list_append(t.dp[t.pos + 2 - r.j].seg, v.piece) AS seg2
       |    FROM $out t
       |    CROSS JOIN UNNEST(range(1, 5)) AS r(j)
       |    JOIN $vocab v ON v.piece = substr(t.w, t.pos + 2 - r.j, r.j)
       |    WHERE t.pos < len(t.w) AND r.j <= t.pos + 1)
       |  GROUP BY w, cnt, pos, dp)""".stripMargin

  /** The shared t40/t41 replay: seed substring inventory → initial
    * probs → Viterbi E1 → Laplace M1 → mass prune → Viterbi E2 →
    * final counts/log-probs. Parameters mirror unigramVocab's
    * defaults (maxLen=4 via range(1,5), seedCap=400, vocabTarget=44).
    */
  private val unigramReplayCtes: String =
    s"""WITH RECURSIVE
       |uwords AS MATERIALIZED (
       |  SELECT w, count(*)::BIGINT AS cnt FROM (
       |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
       |    FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |usubs AS MATERIALIZED (
       |  SELECT piece, SUM(cnt)::BIGINT AS freq FROM (
       |    SELECT u.cnt, substr(u.w, g.i, h.j) AS piece
       |    FROM uwords u,
       |         UNNEST(range(1, 256)) AS g(i),
       |         UNNEST(range(1, 5)) AS h(j)
       |    WHERE g.i + h.j - 1 <= len(u.w))
       |  GROUP BY piece),
       |useed AS MATERIALIZED (
       |  SELECT piece, freq FROM usubs WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, freq FROM (
       |    SELECT piece, freq,
       |      row_number() OVER (ORDER BY freq DESC, piece) AS rk
       |    FROM usubs WHERE len(piece) > 1) WHERE rk <= 400),
       |ulp0 AS MATERIALIZED (
       |  SELECT piece, round(ln(CAST(freq AS DOUBLE)
       |    / CAST((SELECT SUM(freq) FROM useed) AS DOUBLE)), 6) AS logp
       |  FROM useed),
       |${unigramVitCte("uvit1", "ulp0")},
       |uc1 AS MATERIALIZED (
       |  SELECT piece, SUM(cnt)::BIGINT AS c FROM (
       |    SELECT cnt, unnest(dp[len(w) + 1].seg) AS piece
       |    FROM uvit1 WHERE pos = len(w))
       |  GROUP BY piece),
       |ulp1 AS MATERIALIZED (
       |  SELECT s.piece, coalesce(c.c, 0)::BIGINT AS c,
       |    round(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
       |      / CAST((SELECT SUM(c) FROM uc1)
       |           + (SELECT count(*) FROM useed) AS DOUBLE)), 6) AS logp
       |  FROM useed s LEFT JOIN uc1 c ON s.piece = c.piece),
       |uvocab2 AS MATERIALIZED (
       |  SELECT piece, logp FROM ulp1 WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, logp FROM (
       |    SELECT piece, logp, row_number() OVER (
       |        ORDER BY CAST(c AS DOUBLE) * logp ASC, piece ASC) AS rk
       |    FROM ulp1 WHERE len(piece) > 1)
       |  WHERE rk <= 44 - (SELECT count(*) FROM ulp1 WHERE len(piece) = 1)),
       |${unigramVitCte("uvit2", "uvocab2")},
       |uc2 AS MATERIALIZED (
       |  SELECT piece, SUM(cnt)::BIGINT AS c FROM (
       |    SELECT cnt, unnest(dp[len(w) + 1].seg) AS piece
       |    FROM uvit2 WHERE pos = len(w))
       |  GROUP BY piece),
       |ufinal AS MATERIALIZED (
       |  SELECT v.piece, coalesce(c.c, 0)::BIGINT AS n,
       |    round(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
       |      / CAST((SELECT SUM(c) FROM uc2)
       |           + (SELECT count(*) FROM uvocab2) AS DOUBLE)), 6) AS logp
       |  FROM uvocab2 v LEFT JOIN uc2 c ON v.piece = c.piece)""".stripMargin

  private val bpeEncodeCtes: String =
    """final AS (
      |  SELECT wid, len(sym)::BIGINT AS n_units, len(wid)::BIGINT AS n_chars
      |  FROM t WHERE step = (SELECT max(step) FROM t)),
      |pdw AS (
      |  SELECT doc_id, w, count(*)::BIGINT AS c FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      |    FROM documents)
      |  WHERE len(w) > 0 GROUP BY doc_id, w)""".stripMargin

  private val contaminationCtes: String =
    """docs AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
      |      THEN list_transform(generate_series(1, len(string_split(text,' ')) - 2),
      |             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])
      |      ELSE [text] END) AS sh
      |  FROM documents),
      |sized AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh, sh FROM docs),
      |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sized),
      |bench AS (SELECT DISTINCT shingle FROM inv WHERE doc_id % 50 = 0),
      |matched AS (
      |  SELECT doc_id, count(*) AS n_overlap
      |  FROM inv JOIN bench USING (shingle)
      |  WHERE doc_id % 50 <> 0 GROUP BY doc_id)""".stripMargin

  private val contaminationOracle: String =
    s"""WITH $contaminationCtes
      |SELECT s.doc_id, s.n_sh,
      |  CAST(COALESCE(m.n_overlap, 0) AS BIGINT) AS n_overlap,
      |  round(CAST(COALESCE(m.n_overlap, 0) AS DOUBLE) / CAST(s.n_sh AS DOUBLE), 6) AS overlap_frac,
      |  CASE WHEN CAST(COALESCE(m.n_overlap, 0) AS DOUBLE) / CAST(s.n_sh AS DOUBLE) >= 0.2::DOUBLE
      |       THEN 1 ELSE 0 END AS contaminated
      |FROM sized s LEFT JOIN matched m ON s.doc_id = m.doc_id
      |WHERE s.doc_id % 50 <> 0
      |ORDER BY s.doc_id""".stripMargin

  /** p3 — token-budget source rebalancing ("domain mixing"): spend a
    * global token budget (frac · corpus tokens) EQUALLY across sources,
    * filling each source's share greedily in md5(doc_id) order. The
    * hash order makes membership a pure function of the key (t10's
    * trick), so any engine — or any rerun after the corpus grows —
    * reproduces the same mix decisions for unchanged docs. One window
    * cumsum per source partition + a 1-row budget cross join; no
    * per-source driver loop. At 100 TB the full per-source sort is the
    * honest cost of EXACT budgeting; the approximate path (sample the
    * hash distribution, pick a threshold, one filter) trades exactness
    * for a sort-free scan and keeps the same determinism.
    */
  def sourceMix(s: SparkSession, d: String, frac: Double = 0.3): DataFrame = {
    val docs = documents(s, d).select(
      col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_tok"),
      md5(col("doc_id").cast("string")).as("hk"))
    val budget = docs.agg(
      floor(sum("n_tok").cast("double") * frac / countDistinct("source"))
        .cast("long").as("budget"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("hk", "doc_id")
    docs.withColumn("cum", sum("n_tok").over(w))
      .crossJoin(budget)
      .filter(col("cum") <= col("budget"))
      .select("doc_id", "source", "n_tok", "cum")
      .orderBy("doc_id")
  }

  /** p8 — TEMPERATURE-weighted source mixing (τ = 0.5): per-source token
    * budgets proportional to √(source tokens) instead of p3's equal
    * split — the standard up-sampling of small high-value sources in a
    * training mix (multilingual sampling à la XLM-R). Determinism
    * discipline: the weight normalizer is an ORDERED running sum over
    * the |sources|-row rollup (sequential fp addition in source order —
    * both engines add in the same order, so the doubles are identical
    * and the floor'd budgets cannot straddle an ulp), and doc
    * membership inside a source is the same md5-order greedy fill as
    * p3 — a pure function of the key, rerun- and engine-stable. The
    * |sources|-row window is the calendar-sized exception, never the
    * fact table.
    */
  def temperatureMix(s: SparkSession, d: String, frac: Double = 0.3): DataFrame = {
    val docs = documents(s, d).select(
      col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_tok"),
      md5(col("doc_id").cast("string")).as("hk"))
    val bySrc = docs.groupBy("source").agg(sum("n_tok").as("s_tok"))
    val ordered = org.apache.spark.sql.expressions.Window
      .orderBy("source")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val weighted = bySrc
      .withColumn("w", sqrt(col("s_tok").cast("double")))
      .withColumn("cw", sum("w").over(ordered))
    val norm = weighted.agg(max("cw").as("wnorm"))
    val totalBudget = docs.agg(
      floor(sum("n_tok").cast("double") * frac).as("tb"))
    val budgets = weighted.crossJoin(broadcast(norm))
      .crossJoin(broadcast(totalBudget))
      .withColumn("budget",
        floor(col("tb") * col("w") / col("wnorm")).cast("long"))
      .select("source", "budget")
    val fill = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("hk", "doc_id")
    docs.withColumn("cum", sum("n_tok").over(fill))
      .join(broadcast(budgets), "source")
      .filter(col("cum") <= col("budget"))
      .select("doc_id", "source", "n_tok", "cum")
      .orderBy("doc_id")
  }

  /** p18 — UniMax EPOCH-CAPPED budget allocation (Chung et al. 2023,
    * "UniMax: Fairer and More Effective Language Sampling for
    * Large-Scale Multilingual Pretraining"): spend a global token
    * budget over sources by walking them SMALLEST-FIRST, giving each
    * source min(cap · its tokens, remaining budget ÷ sources left) —
    * small sources get up to `epochCap` epochs (never more, the
    * overfitting guard temperature sampling lacks), and whatever a
    * capped source cannot absorb is re-spread over the larger sources
    * still in line. p8's temperature mix is heuristic up-sampling;
    * this is the principled allocation that explicitly bounds
    * repetition per source.
    *
    * Exactness discipline: everything is INTEGER token arithmetic —
    * budget = total·2 ÷ 5, fair share = remaining ÷ sources-left with
    * truncating division (Scala `Long./` ≡ DuckDB `//` on
    * non-negatives) — so both engines walk bit-identical state and
    * the only doubles (`epochs`) divide identical integers. The walk
    * itself is inherently sequential but runs over the |sources|-row
    * ROLLUP (corpus-level constants — t22's k-row-LUT discipline, the
    * one full-data pass is the token-count aggregate); the oracle
    * replays it as a recursive CTE, q5's engine-level recursion
    * cross-check.
    */
  def unimaxMix(s: SparkSession, d: String, epochCap: Long = 4L): DataFrame = {
    import s.implicits._
    val bySrc = documents(s, d)
      .groupBy("source")
      .agg(sum(size(tokens(col("text"))).cast("long")).as("n_tok"))
      .as[(String, Long)]
      .collect()                       // |sources|-row rollup, bounded
      .sortBy { case (src, n) => (n, src) } // smallest-first, total order
    val total = bySrc.map(_._2).sum
    var b = total * 2L / 5L            // global budget: 40% of the corpus
    var r = bySrc.length.toLong
    val rows = bySrc.map { case (src, n) =>
      val alloc = math.min(epochCap * n, b / r)
      b -= alloc; r -= 1
      val epochs = if (n > 0) alloc.toDouble / n.toDouble else 0.0
      (src, n, alloc, epochs, if (alloc == epochCap * n) 1 else 0)
    }
    rows.toSeq.toDF("source", "n_tok", "alloc_tok", "epochs", "capped")
      .withColumn("epochs", round(col("epochs"), 6)) // Spark round ≡ DuckDB round
      .orderBy("source")
  }

  // ------------------------------------------------------------------
  // p13 — the composed END-TO-END corpus-build pipeline: t27 boilerplate
  // clean → d1 exact dedup (on the CLEANED text) → t28 quality gate →
  // p8 temperature mix → p2 packing, as ONE declared query whose output
  // is the per-stage, per-source kept/dropped doc+token accounting
  // table — the artifact a real corpus run signs off on. Stage ORDER is
  // the drop precedence: a doc dropped at exact-dedup is never counted
  // again at quality, a quality-reject never competes for mix budget.
  // p14 inserts the approximate dedup stages (d12 LSH, d15 SemDeDup)
  // between exact and quality via `extraKeeps`.
  // ------------------------------------------------------------------

  /** Per-document decision table shared by p13/p14: one row per doc
    * with cleaned token counts and every stage's survival flag, plus
    * the mix/pack assignment. Scale shape: the clean stage is t27's
    * (line-hash df-cut + one per-doc regroup); exact dedup is one
    * window keyed by the cleaned text (at 100 TB: key on xxhash64 of
    * it — same plan); the t28 gate is a narrow fold; the mix stage
    * aggregates to a |sources|-row rollup (its ordered-sum window is
    * the calendar-sized exception, p8's discipline) and the fill
    * cumsum is per-source partitioned. Because `cum` is monotone along
    * each source's fill order, the mix-kept set is a PREFIX — so the
    * pack stage reuses the same cumulative sum (no second window) and
    * p2's offset rule `floor((cum − n_tok)/budget)` bins it directly.
    *
    * `extraKeeps`: (stageName, keep-list) pairs applied between exact
    * dedup and the quality gate, in order. A doc absent from a keep
    * list passes through (a keep LIST's absence is "no duplicate
    * verdict", e.g. a doc with no embedding cannot be a semantic dup).
    */
  private[graft] def corpusBuildPerDoc(s: SparkSession, d: String,
      segWords: Int, minDocs: Int, frac: Double, packBudget: Double,
      extraKeeps: Seq[(String, DataFrame)]): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.expressions.Window
    val cleaned = lineDedupText(segLines(s, d, segWords), minDocs, " ")
      .select(col("doc_id"), col("source"), col("orig_toks"),
        col("clean_toks"), col("clean"))
    val dedW = Window.partitionBy("clean").orderBy("doc_id")
    var pd = cleaned
      .withColumn("exact_keep", row_number().over(dedW) === 1)
      .withColumn("q_keep", t28ScoreU(col("clean")) >= 0)
      .withColumn("hk", md5(col("doc_id").cast("string")))
      .drop("clean")
    val extraNames = extraKeeps.map(_._1)
    extraKeeps.foreach { case (nm, kdf) =>
      pd = pd
        .join(kdf.select(col("doc_id"), col("keep").as(s"keep_$nm")),
          Seq("doc_id"), "left")
        .withColumn(s"keep_$nm", coalesce(col(s"keep_$nm"), lit(true)))
    }
    pd = pd.withColumn("surv_exact", col("exact_keep"))
    var prev = "surv_exact"
    extraNames.foreach { nm =>
      pd = pd.withColumn(s"surv_$nm", col(prev) && col(s"keep_$nm"))
      prev = s"surv_$nm"
    }
    pd = pd.withColumn("surv_q", col(prev) && col("q_keep"))
    // r19 (guide §5 caching / §3.3 duplicated subtrees): the per-doc
    // decision table is the expensive subtree (clean pipeline + window +
    // quality score + each extraKeeps join — for p14 that is the full
    // d12 LSH and d15 SemDeDup pipelines), and the mix/pack stage below
    // references it FIVE times in one plan (the returned left side,
    // `packed`→`surv`, `budgets`→`weighted`→`bySrc`→`surv`, and the
    // `norm`/`tb` broadcast subtrees). Without this boundary Catalyst
    // re-evaluates the whole upstream per reference. The cache is
    // intra-query (narrow per-doc rows, no text column); the harness
    // clearCache()s after the sink.
    pd = pd.cache()
    // p8 temperature mix (τ=0.5) over the surviving docs' CLEANED tokens
    val surv = pd.filter(col("surv_q"))
    val bySrc = surv.groupBy("source").agg(sum("clean_toks").as("s_tok"))
    // partition-less window safe HERE: input is the |sources|-row
    // per-source rollup (a handful of rows at any corpus scale)
    val ordered = Window.orderBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val weighted = bySrc
      .withColumn("w", sqrt(col("s_tok").cast("double")))
      .withColumn("cw", sum("w").over(ordered))
    val norm = weighted.agg(max("cw").as("wnorm"))
    val tb = surv.agg(
      floor(sum("clean_toks").cast("double") * frac).as("tb"))
    val budgets = weighted.crossJoin(broadcast(norm)).crossJoin(broadcast(tb))
      .withColumn("budget",
        floor(col("tb") * col("w") / col("wnorm")).cast("long"))
      .select("source", "budget")
    val fill = Window.partitionBy("source").orderBy("hk", "doc_id")
    val packed = surv.withColumn("cum", sum("clean_toks").over(fill))
      .join(broadcast(budgets), "source")
      .filter(col("cum") <= col("budget"))
      .select(col("doc_id"), lit(true).as("mix_keep"),
        floor((col("cum") - col("clean_toks")) / lit(packBudget))
          .cast("long").as("seq_id"))
    (pd.join(packed, Seq("doc_id"), "left")
       .withColumn("mix_keep", coalesce(col("mix_keep"), lit(false))),
     extraNames)
  }

  /** p13/p14 — the per-stage, per-source accounting table:
    * (stage, source, docs in/kept/dropped, tokens in/kept/dropped,
    * bins). Every stage's kept line is the next stage's in line by
    * construction; the clean stage keeps all docs and drops only
    * tokens; the pack stage drops nothing and reports its bin count.
    * All counts are exact integers from ONE per-source rollup over the
    * per-doc decision table.
    */
  def corpusBuild(s: SparkSession, d: String, segWords: Int = 5,
      minDocs: Int = 2, frac: Double = 0.3, packBudget: Double = 8192.0,
      extraKeeps: Seq[(String, DataFrame)] = Nil): DataFrame = {
    val (pd, extraNames) = corpusBuildPerDoc(
      s, d, segWords, minDocs, frac, packBudget, extraKeeps)
    def cnt(c: Column, nm: String) =
      sum(when(c, 1L).otherwise(0L)).as(nm)
    def tok(c: Column, nm: String) =
      sum(when(c, col("clean_toks")).otherwise(0L)).as(nm)
    val aggs: Seq[Column] = Seq(
      count(lit(1)).as("n_all"),
      sum("orig_toks").as("tok_orig"),
      sum("clean_toks").as("tok_clean"),
      cnt(col("surv_exact"), "n_exact"), tok(col("surv_exact"), "tok_exact")) ++
      extraNames.flatMap(nm =>
        Seq(cnt(col(s"surv_$nm"), s"n_$nm"), tok(col(s"surv_$nm"), s"tok_$nm"))) ++
      Seq(
        cnt(col("surv_q"), "n_q"), tok(col("surv_q"), "tok_q"),
        cnt(col("mix_keep"), "n_mix"), tok(col("mix_keep"), "tok_mix"),
        countDistinct(when(col("mix_keep"), col("seq_id"))).as("n_bins"))
    val roll = pd.groupBy("source").agg(aggs.head, aggs.tail: _*).cache()
    case class St(name: String, inD: String, inT: String,
        kD: String, kT: String, bins: Boolean = false)
    val mid = extraNames
      .foldLeft((Vector.empty[St], ("n_exact", "tok_exact"))) {
        case ((acc, (pD, pT)), nm) =>
          (acc :+ St(nm, pD, pT, s"n_$nm", s"tok_$nm"), (s"n_$nm", s"tok_$nm"))
      }
    val (lastD, lastT) = mid._2
    val stages = Vector(
      St("clean", "n_all", "tok_orig", "n_all", "tok_clean"),
      St("exact", "n_all", "tok_clean", "n_exact", "tok_exact")) ++
      mid._1 ++ Vector(
      St("quality", lastD, lastT, "n_q", "tok_q"),
      St("mix", "n_q", "tok_q", "n_mix", "tok_mix"),
      St("pack", "n_mix", "tok_mix", "n_mix", "tok_mix", bins = true))
    stages.zipWithIndex.map { case (st, i) =>
      roll.select(
        lit(s"${i + 1}_${st.name}").as("stage"), col("source"),
        col(st.inD).cast("long").as("n_docs_in"),
        col(st.kD).cast("long").as("n_docs_kept"),
        (col(st.inD) - col(st.kD)).cast("long").as("n_docs_dropped"),
        col(st.inT).cast("long").as("n_toks_in"),
        col(st.kT).cast("long").as("n_toks_kept"),
        (col(st.inT) - col(st.kT)).cast("long").as("n_toks_dropped"),
        (if (st.bins) col("n_bins") else lit(0L)).cast("long").as("n_bins"))
    }.reduce(_.unionAll(_)).orderBy("stage", "source")
  }

  /** p14 — the same pipeline with the APPROXIMATE dedup stages wired in
    * between exact dedup and the quality gate: d12's banded-MinHash LSH
    * keep list, then d15's SemDeDup keep list (each applied to docs
    * still alive; their verdicts come from the declared operators
    * unchanged). Rows-only — LSH minhash and the KMeans clustering have
    * no SQL twin; the spec pins containment against the oracled p13
    * (extra stages only ever DROP, so every later-stage count is ≤
    * p11's) and stage-chain consistency.
    */
  def corpusBuildSemantic(s: SparkSession, d: String): DataFrame =
    corpusBuild(s, d, extraKeeps = Seq(
      "lsh" -> Dedup.lshKeepList(s, d)
        .select(col("doc_id"), (col("kept") === 1).as("keep")),
      "sem" -> Dedup.semDedupKeepList(s, d)
        .select(col("doc_id"), (col("kept") === 1).as("keep"))))

  /** [[corpusBuild]] with p1's `observe()` discipline: the whole-corpus
    * stage counters are collected DURING the per-doc pass — zero extra
    * scans; the spec pins them against the declared accounting table.
    */
  def corpusBuildAudited(s: SparkSession, d: String):
      (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = new org.apache.spark.sql.Observation("graft_p13")
    val (pd, _) = corpusBuildPerDoc(s, d, 5, 2, 0.3, 8192.0, Nil)
    val out = pd.observe(obs,
      count(lit(1)).as("n_in"),
      sum("orig_toks").as("tok_in"),
      sum("clean_toks").as("tok_clean"),
      sum(when(col("surv_exact"), 1L).otherwise(0L)).as("n_exact"),
      sum(when(col("surv_q"), 1L).otherwise(0L)).as("n_quality"),
      sum(when(col("mix_keep"), 1L).otherwise(0L)).as("n_mix"),
      sum(when(col("mix_keep"), col("clean_toks")).otherwise(0L)).as("tok_mix"))
    (out, obs)
  }

  /** t15 — exact duplicated-span detection (ExactSubstr-style dedup
    * signal, Lee et al. 2022 scaled to a join): every 16-token sliding
    * window is fingerprinted; a span is duplicated iff its fingerprint
    * occurs in MORE THAN ONE document. The span index is the same
    * inverted-index shape as d4's n-gram index — the groupBy carries
    * (hash, doc counts), never text, and a df-style cut (count>1)
    * shrinks it to the duplicated tail before the semi-join back.
    * At 100 TB: fingerprints become xxhash64 (8 bytes vs md5's 32-char
    * string — kept here for cross-engine parity), and the window
    * generator stays a narrow codegen'd transform+explode, so the only
    * shuffles are the index groupBy and the per-doc rollup.
    */
  def dupSpans(s: SparkSession, d: String, w: Int = 16,
      flagFrac: Double = 0.5): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n_spans",
        greatest(size(col("t")) - (w - 1), lit(0)).cast("long"))
    val spans = toks.filter(col("n_spans") > 0)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), col("n_spans").cast("int")),
          i => md5(array_join(slice(col("t"), i, lit(w)), " ")))).as("h"))
      // r19 (guide §5): consumed twice (dup-hash agg + the per-doc
      // semi-join) — the per-position windowed md5 is the dominant
      // cost, never pay it twice
      .cache()
    val dupHashes = spans.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1).select("h")
    val perDoc = spans.join(dupHashes, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
    toks.select("doc_id", "n_spans")
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_dup_spans", coalesce(col("n_dup_spans"), lit(0L)))
      .withColumn("dup_frac", round(
        when(col("n_spans") > 0,
          col("n_dup_spans").cast("double") / col("n_spans"))
          .otherwise(lit(0.0)), 6))
      .withColumn("flagged",
        when(col("dup_frac") >= flagFrac, 1).otherwise(0))
      .orderBy("doc_id")
  }

  /** t16 — corpus bigram language-model scoring (the CCNet-style "LM
    * quality filter" stand-in): every document is scored by the mean
    * add-one-smoothed log-probability of its bigrams under the corpus's
    * own bigram statistics, ln((c(w1 w2)+1)/(c(w1·)+V)). Perplexity
    * outliers (gibberish, boilerplate, wrong-language) score low.
    * Dataflow: one narrow bigram generator feeds three aggregations —
    * the bigram count table, the first-word count table (both
    * vocab-sized, joined back on their keys), and the per-doc rollup.
    * At 100 TB the count tables shard like any aggregate and the joins
    * hash on the bigram — swap the string key for xxhash64 to shrink
    * the shuffle 4× (md5/strings kept here for cross-engine parity).
    */
  def bigramScore(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      // r19 (guide §5): two consumers (the bigram generator, the vocab
      // agg) each re-tokenized the corpus — one cached pass instead
      .cache()
    val big = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            concat_ws(" ", element_at(col("t"), i),
              element_at(col("t"), i + 1)).as("bg")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.bg").as("bg"))
      // r19 (guide §5): three consumers (bigram counts, first-word
      // counts, the scoring join's probe side) re-ran the generator
      .cache()
    val bigc = big.groupBy("bg").agg(count(lit(1)).as("cb"))
    val unic = big.groupBy("w1").agg(count(lit(1)).as("cu"))
    val vocab = toks.select(explode(col("t")).as("tok"))
      .agg(countDistinct("tok").cast("double").as("vocab"))
    big.join(bigc, Seq("bg")).join(unic, Seq("w1")).crossJoin(vocab)
      .select(col("doc_id"),
        log((col("cb") + 1).cast("double") / (col("cu") + col("vocab")))
          .as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg("lp"), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** t20 — perplexity-TIER corpus partition (CCNet's head/middle/tail
    * move): docs bucketed by their t16 language-model score at the
    * exact 1/3 and 2/3 percentiles — the quality split a web corpus is
    * sharded into before deciding which tiers reach training.
    * Composition, not recomputation: the per-doc score IS t16's
    * (rounded to 6dp first, so the cut comparisons see identical
    * doubles on both engines), the cuts come from ONE
    * [[Stats.quantileCuts]] agg broadcast back (e8's discipline — never
    * ntile's single-task window), and the output is the |tiers|-row
    * accounting table. `avg_logprob` has ~one distinct double per
    * document, so exact `percentile`'s per-distinct-value final-task
    * state would be corpus-sized at 100 TB — the gate flips this exact
    * caller to the mergeable sketch above [[Stats.DefaultExactDomainCap]]
    * (below it, where the oracle runs, the path is exact).
    */
  def perplexityTiers(s: SparkSession, d: String): DataFrame = {
    val scored = bigramScore(s, d)
      .select(col("doc_id"), col("n_bigrams"), col("avg_logprob"))
      // r19 (guide §5): consumed twice (cuts agg + tier rollup);
      // recompute would replay the whole t16 scoring pipeline
      .cache()
    val cuts = Stats.quantileCuts(scored, Seq(Stats.CutSpec("c",
        "avg_logprob", Seq(0.3333333333333333, 0.6666666666666666))))._1
      .select(element_at(col("c"), 1).as("c1"),
        element_at(col("c"), 2).as("c2"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("tier",
        when(col("avg_logprob") > col("c2"), "head")
          .when(col("avg_logprob") > col("c1"), "middle")
          .otherwise("tail"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_docs"), sum("n_bigrams").as("n_bigrams"),
        round(avg("avg_logprob"), 4).as("avg_lp"))
      .orderBy("tier")
  }

  /** t35 — stupid-backoff TRIGRAM perplexity (Brants et al. 2007, "Large
    * Language Models in Machine Translation" §4): the faithful CCNet
    * quality filter t16's add-one bigram stands in for. Each trigram
    * position scores S(w₃|w₁w₂) = c₃/c₂ when the PRUNED trigram table
    * (t18's ≥ minCount cut — a shipped LM is count-pruned) has the
    * trigram, else α·c₂(w₂w₃)/c₁(w₂) from the pruned bigram table, else
    * α²·c₁(w₃)/N — corpus-internal scoring, so the unigram floor always
    * exists and no probability is zero. Per-doc mean ln S + t20's tier
    * assignment (cuts from ONE exact-percentile agg broadcast back).
    *
    * Dataflow: one narrow generator emits each position's five keys;
    * the two PRUNED tables are k-row broadcast LUTs (t22's discipline),
    * the unigram table is vocab-sized (Zipf-bounded — broadcast here,
    * a shuffled hash join at 100 TB), N is a 1-row cross join. Backoff
    * LEVEL counts are exact integers — they pin the branch decisions
    * cross-engine independent of any fp rounding.
    */
  def backoffPerplexity(s: SparkSession, d: String,
      minCount: Long = 5): DataFrame = {
    // r19 (guide §5): five consumers re-tokenized the corpus (grams, the
    // pruned trigram/bigram tables, c1, nTok) — one cached pass instead
    val toks = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .cache()
    val t = col("t")
    val grams = toks.filter(size(t) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(t) - 2),
          i => struct(
            concat_ws(" ", element_at(t, i), element_at(t, i + 1),
              element_at(t, i + 2)).as("g3"),
            concat_ws(" ", element_at(t, i), element_at(t, i + 1)).as("g2a"),
            concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2)).as("g2b"),
            element_at(t, i + 1).as("u2"),
            element_at(t, i + 2).as("u3")))).as("p"))
      .select(col("doc_id"), col("p.g3").as("g3"), col("p.g2a").as("g2a"),
        col("p.g2b").as("g2b"), col("p.u2").as("u2"), col("p.u3").as("u3"))
    val c3 = trigramCounts(s, d, minCount)
      .select(col("trigram"), col("n").as("c3"))
    val bigrams = toks.filter(size(t) >= 2)
      .select(explode(transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1)))).as("bg"))
    val c2 = bigrams.groupBy("bg").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
    val c1 = toks.select(explode(t).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val nTok = toks.select(explode(t).as("w"))
      .agg(count(lit(1)).as("n_corpus"))
    // trigram hit ⇒ its history bigram passed the same cut (c₃ ≤ c₂),
    // so the c₃ branch's denominator can never be null
    val scored = grams
      .join(broadcast(c3), grams("g3") === c3("trigram"), "left")
      .join(broadcast(c2.select(col("bg"), col("c2").as("c2a"))),
        grams("g2a") === col("bg"), "left").drop("bg")
      .join(broadcast(c2.select(col("bg"), col("c2").as("c2b"))),
        grams("g2b") === col("bg"), "left").drop("bg")
      .join(c1.select(col("w"), col("c1").as("cu2")),
        grams("u2") === col("w")).drop("w")
      .join(c1.select(col("w"), col("c1").as("cu3")),
        grams("u3") === col("w")).drop("w")
      .crossJoin(broadcast(nTok))
      .select(col("doc_id"),
        when(col("c3").isNotNull,
          log(col("c3").cast("double") / col("c2a")))
          .when(col("c2b").isNotNull,
            log(lit(0.4) * col("c2b").cast("double") / col("cu2")))
          .otherwise(
            log(lit(0.16) * col("cu3").cast("double") / col("n_corpus")))
          .as("lp"),
        when(col("c3").isNotNull, 1L).otherwise(0L).as("h3"),
        when(col("c3").isNull && col("c2b").isNotNull, 1L).otherwise(0L).as("h2"))
    val perDoc = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum("h3").as("n_trigram_hits"),
        sum("h2").as("n_bigram_backoffs"),
        (count(lit(1)) - sum("h3") - sum("h2")).as("n_unigram_backoffs"),
        round(avg("lp"), 6).as("avg_logprob"))
      // r19 (guide §5): consumed twice — the quantile-cuts agg and the
      // final tier projection — and recomputing it replays the whole
      // 5-way scoring join; per-doc rows are narrow, cache them
      .cache()
    val cuts = Stats.quantileCuts(perDoc, Seq(Stats.CutSpec("c",
        "avg_logprob", Seq(0.3333333333333333, 0.6666666666666666))))._1
      .select(element_at(col("c"), 1).as("k1"),
        element_at(col("c"), 2).as("k2"))
    perDoc.crossJoin(broadcast(cuts))
      .withColumn("tier",
        when(col("avg_logprob") > col("k2"), "head")
          .when(col("avg_logprob") > col("k1"), "middle")
          .otherwise("tail"))
      .select("doc_id", "n_trigrams", "n_trigram_hits", "n_bigram_backoffs",
        "n_unigram_backoffs", "avg_logprob", "tier")
      .orderBy("doc_id")
  }

  /** t36 — stupid-backoff 5-GRAM perplexity: t35's scorer generalized
    * to the CCNet/C4 shape (the filtering LMs those pipelines train
    * are 5-gram KenLM models; trigram is the faithful-but-small form).
    * The chain is five levels deep — 5-gram → 4-gram → trigram →
    * bigram → unigram, each backoff multiplying in the 0.4 penalty
    * (0.4, 0.16, 0.064, 0.0256 as literals on both engines) — and
    * every numerator comes from a count-pruned table while its history
    * denominator is guaranteed non-null by the same monotone argument
    * as t35: c₅(w₁..₅) ≥ minCount ⇒ c₄(w₁..₄) ≥ c₅ ≥ minCount, level
    * by level. minCount = 2 here, not t35's 5: the synthetic corpus
    * has zero 5-grams repeating ≥5× (measured), and a threshold the
    * data never clears would leave the top level dead code — CCNet
    * prunes by corpus-tuned thresholds for exactly this reason.
    *
    * Scale shape is t35's: the pruned 5/4/3/2-gram tables are k-row
    * broadcast LUTs, the unigram join is the one vocabulary-sized
    * shuffle (documented flip to a shuffled hash join at 100 TB), N is
    * a 1-row cross join, and the per-position generator is one narrow
    * explode. Fully oracled including the exact-integer per-level
    * backoff counts that pin every branch decision cross-engine.
    */
  def backoffPerplexity5(s: SparkSession, d: String,
      minCount: Long = 2): DataFrame = {
    // r19 (guide §5): SEVEN consumers re-tokenized the corpus (grams,
    // four pruned n-gram tables, c1, nTok) — one cached pass instead
    val toks = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .cache()
    val t = col("t")
    def joinTok(from: Int, to: Int, i: Column): Column =
      concat_ws(" ", (from to to).map(o => element_at(t, i + o)): _*)
    val grams = toks.filter(size(t) >= 5)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(t) - 4),
          i => struct(
            joinTok(0, 4, i).as("g5"),
            joinTok(0, 3, i).as("g4a"), joinTok(1, 4, i).as("g4b"),
            joinTok(1, 3, i).as("g3a"), joinTok(2, 4, i).as("g3b"),
            joinTok(2, 3, i).as("g2a"), joinTok(3, 4, i).as("g2b"),
            element_at(t, i + 3).as("u4"),
            element_at(t, i + 4).as("u5")))).as("p"))
      .select(col("doc_id") +: Seq("g5", "g4a", "g4b", "g3a", "g3b",
        "g2a", "g2b", "u4", "u5").map(f => col(s"p.$f").as(f)): _*)
    def pruned(order: Int): DataFrame = {
      val win = toks.filter(size(t) >= order)
        .select(explode(transform(sequence(lit(1), size(t) - (order - 1)),
          i => joinTok(0, order - 1, i))).as("g"))
      win.groupBy("g").agg(count(lit(1)).as("n"))
        .filter(col("n") >= minCount)
    }
    val c5 = pruned(5).select(col("g"), col("n").as("c5"))
    val c4 = pruned(4)
    val c3 = pruned(3)
    val c2 = pruned(2)
    val c1 = toks.select(explode(t).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val nTok = toks.select(explode(t).as("w"))
      .agg(count(lit(1)).as("n_corpus"))
    def lut(src: DataFrame, key: String, as: String): DataFrame =
      src.select(col("g").as(s"${as}_g"), col("n").as(as))
    val scored = grams
      .join(broadcast(c5), grams("g5") === c5("g"), "left").drop("g")
      .join(broadcast(lut(c4, "g4a", "c4a")),
        col("g4a") === col("c4a_g"), "left").drop("c4a_g")
      .join(broadcast(lut(c4, "g4b", "c4b")),
        col("g4b") === col("c4b_g"), "left").drop("c4b_g")
      .join(broadcast(lut(c3, "g3a", "c3a")),
        col("g3a") === col("c3a_g"), "left").drop("c3a_g")
      .join(broadcast(lut(c3, "g3b", "c3b")),
        col("g3b") === col("c3b_g"), "left").drop("c3b_g")
      .join(broadcast(lut(c2, "g2a", "c2a")),
        col("g2a") === col("c2a_g"), "left").drop("c2a_g")
      .join(broadcast(lut(c2, "g2b", "c2b")),
        col("g2b") === col("c2b_g"), "left").drop("c2b_g")
      .join(c1.select(col("w"), col("c1").as("cu4")),
        col("u4") === col("w")).drop("w")
      .join(c1.select(col("w"), col("c1").as("cu5")),
        col("u5") === col("w")).drop("w")
      .crossJoin(broadcast(nTok))
      .select(col("doc_id"),
        when(col("c5").isNotNull,
          log(col("c5").cast("double") / col("c4a")))
          .when(col("c4b").isNotNull,
            log(lit(0.4) * col("c4b").cast("double") / col("c3a")))
          .when(col("c3b").isNotNull,
            log(lit(0.16) * col("c3b").cast("double") / col("c2a")))
          .when(col("c2b").isNotNull,
            log(lit(0.064) * col("c2b").cast("double") / col("cu4")))
          .otherwise(
            log(lit(0.0256) * col("cu5").cast("double") / col("n_corpus")))
          .as("lp"),
        when(col("c5").isNotNull, 1L).otherwise(0L).as("h5"),
        when(col("c5").isNull && col("c4b").isNotNull, 1L)
          .otherwise(0L).as("h4"),
        when(col("c5").isNull && col("c4b").isNull &&
          col("c3b").isNotNull, 1L).otherwise(0L).as("h3"),
        when(col("c5").isNull && col("c4b").isNull && col("c3b").isNull &&
          col("c2b").isNotNull, 1L).otherwise(0L).as("h2"))
    val perDoc = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_5grams"),
        sum("h5").as("n_5gram_hits"),
        sum("h4").as("n_4gram_backoffs"),
        sum("h3").as("n_3gram_backoffs"),
        sum("h2").as("n_2gram_backoffs"),
        (count(lit(1)) - sum("h5") - sum("h4") - sum("h3") - sum("h2"))
          .as("n_unigram_backoffs"),
        round(avg("lp"), 6).as("avg_logprob"))
      // r19 (guide §5): consumed twice (cuts agg + final tier
      // projection); recompute would replay the 9-way scoring join
      .cache()
    val cuts = Stats.quantileCuts(perDoc, Seq(Stats.CutSpec("c",
        "avg_logprob", Seq(0.3333333333333333, 0.6666666666666666))))._1
      .select(element_at(col("c"), 1).as("k1"),
        element_at(col("c"), 2).as("k2"))
    perDoc.crossJoin(broadcast(cuts))
      .withColumn("tier",
        when(col("avg_logprob") > col("k2"), "head")
          .when(col("avg_logprob") > col("k1"), "middle")
          .otherwise("tail"))
      .select("doc_id", "n_5grams", "n_5gram_hits", "n_4gram_backoffs",
        "n_3gram_backoffs", "n_2gram_backoffs", "n_unigram_backoffs",
        "avg_logprob", "tier")
      .orderBy("doc_id")
  }

  /** t37 — interpolated KNESER–NEY trigram perplexity (Kneser & Ney
    * 1995; the interpolated form of Chen & Goodman 1999 with one Ney
    * discount per order): the smoothing the filtering LMs t35/t36
    * approximate are actually trained with (KenLM is interpolated
    * modified-KN; this is the single-discount variant). Unlike stupid
    * backoff there is no branch — every position mixes all three
    * levels, and the lower orders score CONTINUATION counts (in how
    * many distinct contexts does this n-gram complete?), not raw
    * frequency: the classic "San Francisco" effect — "Francisco" is
    * frequent but only ever follows "San", so its unigram weight must
    * be tiny.
    *
    *   P(w₃|w₁w₂) = max(c₃−D₃,0)/c(w₁w₂) + D₃·N₁₊(w₁w₂•)/c(w₁w₂) · P₂
    *   P₂(w₃|w₂) = max(N₁₊(•w₂w₃)−D₂,0)/N₁₊(•w₂•)
    *                 + D₂·N₁₊(w₂•)/N₁₊(•w₂•) · P₁
    *   P₁(w₃)    = N₁₊(•w₃)/N₁₊(••)
    *
    * with Dₙ = n₁/(n₁+2n₂) from each order's count-of-counts (Ney,
    * Essen & Kneser 1994). Every continuation statistic derives from
    * ONE trigram type inventory (history counts are the adjusted
    * Σ_w₃ c₃ form KenLM uses for lower orders, so each level is
    * properly normalized over its support); because the corpus scores
    * itself, every denominator is provably non-null — no OOV path.
    *
    * Dataflow: one narrow generator; the type tables are corpus-
    * derived aggregates joined back N:1 (Zipf-bounded — AQE broadcasts
    * them here, shuffled-hash at 100 TB); discounts are two 1-row
    * cross joins. The per-position probability is pure scalar
    * arithmetic written IDENTICALLY in the DuckDB oracle, and the
    * integer singleton-position count pins the discount's max(·,0)
    * boundary cross-engine independent of fp.
    */
  def kneserNeyPerplexity(s: SparkSession, d: String): DataFrame = {
    // r19 (guide §5): the position table feeds the type inventory AND
    // the scoring join — cache the tokenized pass it generates from
    val toks = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .cache()
    val t = col("t")
    val pos = toks.filter(size(t) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(t) - 2),
          i => struct(
            concat_ws(" ", element_at(t, i), element_at(t, i + 1),
              element_at(t, i + 2)).as("g3"),
            concat_ws(" ", element_at(t, i), element_at(t, i + 1)).as("h2"),
            concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2)).as("g2"),
            element_at(t, i + 1).as("w2"),
            element_at(t, i + 2).as("w3")))).as("p"))
      .select(col("doc_id"), col("p.g3").as("g3"), col("p.h2").as("h2"),
        col("p.g2").as("g2"), col("p.w2").as("w2"), col("p.w3").as("w3"))
    // the trigram TYPE inventory — every lower-order statistic below is
    // an aggregate of this one table (no separate bigram/unigram scans)
    val tri = pos.groupBy("g3", "h2", "g2", "w2", "w3")
      .agg(count(lit(1)).as("c3"))
      // r19 (guide §5): three consumers (hist, cont2, d3 discount,
      // triFull) re-ran the corpus-wide type-inventory agg — cache the
      // type-bounded table once
      .cache()
    val hist = tri.groupBy("h2")
      .agg(sum("c3").as("ch2"), count(lit(1)).as("t_h2")) // c(w₁w₂), N₁₊(w₁w₂•)
    val cont2 = tri.groupBy("g2", "w2", "w3")
      .agg(count(lit(1)).as("nc")) // N₁₊(•w₂w₃): distinct preceding w₁
      // r19 (guide §5): five consumers (mid, uni, tot, d2, the scoring
      // join) — same reasoning, strictly smaller table
      .cache()
    val mid = cont2.groupBy("w2")
      .agg(sum("nc").as("ncdot"), count(lit(1)).as("types_w2")) // N₁₊(•w₂•), N₁₊(w₂•)
    val uni = cont2.groupBy("w3").agg(count(lit(1)).as("ncw3")) // N₁₊(•w₃)
    val tot = cont2.agg(count(lit(1)).as("n_types")) // N₁₊(••)
    def neyDiscount(src: DataFrame, c: String, as: String): DataFrame =
      src.agg((sum(when(col(c) === 1, 1L).otherwise(0L)).cast("double") /
        (sum(when(col(c) === 1, 1L).otherwise(0L)) +
          lit(2) * sum(when(col(c) === 2, 1L).otherwise(0L)))).as(as))
    val d3 = neyDiscount(tri, "c3", "d3")
    val d2 = neyDiscount(cont2, "nc", "d2")
    val triFull = tri.join(hist, "h2")
      .select(col("g3"), col("c3"), col("ch2"), col("t_h2"))
    val scored = pos
      .join(triFull, "g3")
      .join(cont2.select(col("g2"), col("nc")), "g2")
      .join(mid, "w2")
      .join(uni, "w3")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(d3))
      .crossJoin(broadcast(d2))
      .select(col("doc_id"), col("c3"),
        log(
          greatest(col("c3") - col("d3"), lit(0.0)) / col("ch2") +
            (col("d3") * col("t_h2") / col("ch2")) *
              (greatest(col("nc") - col("d2"), lit(0.0)) / col("ncdot") +
                (col("d2") * col("types_w2") / col("ncdot")) *
                  (col("ncw3").cast("double") / col("n_types"))))
          .as("lp"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("c3") === 1, 1L).otherwise(0L)).as("n_singleton_pos"),
        round(avg("lp"), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** p22 — CRAWL-to-corpus pipeline: the end-to-end composition a real
    * corpus run starts with, now expressible because the engine has a
    * crawl front door — src20's WET records (parsed from the
    * gzip-member web-archive fixture, corrupt records already
    * quarantined) flow through exact dedup (min-doc_id keeps, keyed on
    * the md5 digest so the shuffle never carries raw text — p21's
    * discipline) and t28's integer model-quality gate into the
    * per-source sign-off accounting. Stage order IS the drop
    * precedence (p13's contract); every count is recomputable from the
    * documents table + src20's deterministic fixture rules, so the
    * whole composition is fully oracled via chained CTEs — the oracle
    * never sees a WARC byte.
    */
  def crawlCorpusBuild(s: SparkSession, d: String): DataFrame = {
    val recs = graft.sources.Sources.wetRecords(s, d)
    val parts = split(col("url"), "/")
    val parsed = recs.filter(col("status") === "ok")
      .select(element_at(parts, -1).cast("long").as("doc_id"),
        element_at(parts, -2).as("source"), col("text"))
      .withColumn("toks", size(tokens(col("text"))).cast("long"))
    val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
    parsed
      .withColumn("dk", row_number().over(w) === 1)
      .withColumn("qk", t28ScoreU(col("text")) >= 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_parsed"),
        sum("toks").as("tok_parsed"),
        sum(when(col("dk"), 1L).otherwise(0L)).as("n_dedup"),
        sum(when(col("dk"), col("toks")).otherwise(0L)).as("tok_dedup"),
        sum(when(col("dk") && col("qk"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("dk") && col("qk"), col("toks")).otherwise(0L))
          .as("tok_quality"))
      .orderBy("source")
  }

  /** p4 — quality-weighted subsampling (the DCLM/FineWeb move: keep
    * high-quality documents with higher probability instead of a hard
    * threshold). Keep-probability p = 0.2 + 0.6·quality — every doc
    * retains a floor chance, quality triples it. The "coin flip" is a
    * deterministic uniform from the key (Knuth multiplicative hash mod
    * 2³²; both factors exact in int64), so membership is a pure function
    * of doc_id: reruns, retries, and other engines reproduce the same
    * sample — and the oracle recomputes it exactly. Narrow one-pass
    * plan: no shuffle at all until the driver's ORDER BY. At 100 TB the
    * uniform would be xxhash64(doc_id)/2⁶⁴ — same shape, same purity.
    */
  def qualityWeightedSample(s: SparkSession, d: String): DataFrame = {
    val u = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
      .cast("double") / lit(4294967296.0d)
    documents(s, d)
      .select(col("doc_id"), col("source"),
        qualityCol(col("text")).as("q"), u.as("u"))
      .filter(col("u") < lit(0.2) + lit(0.6) * col("q"))
      .select(col("doc_id"), col("source"),
        round(col("q"), 6).as("quality"), round(col("u"), 6).as("u"))
      .orderBy("doc_id")
  }

  /** p15 — deterministic CURRICULUM schedule: the epoch-0 training
    * order that presents the cleanest documents first WITHIN every
    * shard — the curriculum/anneal data-ordering step (clean-first
    * warmup, or reverse it for quality-annealed late phases) that
    * p5's digest order deliberately randomizes away. Composition of
    * green pieces: tier = quality QUARTILE of t2's score (1 =
    * cleanest; cuts from ONE exact-percentile agg broadcast back —
    * t20's discipline, never ntile's single-task window; the score is
    * rounded to 6dp BEFORE the cuts so both engines rank identical
    * doubles), shard + within-shard determinism are p5's (md5-prefix
    * shard; the position window partitions by shard — the same key
    * the downstream shard writers hash on, so there is no global sort
    * anywhere and the schedule is a pure function of (doc_id, text)).
    * Fully oracled end-to-end including the per-shard positions.
    */
  def curriculumSchedule(s: SparkSession, d: String): DataFrame = {
    val scored = documents(s, d).select(col("doc_id"),
      round(qualityCol(col("text")), 6).as("q"),
      md5(col("doc_id").cast("string")).as("hk"))
      // r19 (guide §5): consumed by the cuts agg AND the final schedule
      // — caching skips the second quality-score corpus pass
      .cache()
    val cuts = Stats.quantileCuts(scored,
      Seq(Stats.CutSpec("c", "q", Seq(0.25, 0.5, 0.75))))._1
      .select(element_at(col("c"), 1).as("c1"),
        element_at(col("c"), 2).as("c2"),
        element_at(col("c"), 3).as("c3"))
    val w = Window.partitionBy("shard").orderBy("tier", "hk", "doc_id")
    scored.crossJoin(broadcast(cuts))
      .withColumn("tier",
        when(col("q") > col("c3"), 1)
          .when(col("q") > col("c2"), 2)
          .when(col("q") > col("c1"), 3)
          .otherwise(4))
      .withColumn("shard", substring(col("hk"), 1, 2))
      .withColumn("cur_pos", row_number().over(w))
      .select("doc_id", "shard", "tier", "cur_pos")
      .orderBy("shard", "cur_pos")
  }

  /** p17 — content-addressed SHARD MANIFEST: per training shard (p5's
    * md5-prefix buckets), the doc count, token count, and a single
    * manifest digest — md5 of the per-doc content md5s joined in shard
    * position order — the reproducibility artifact a training run
    * verifies before reading: if any document in the shard changed,
    * moved, or reordered, the manifest digest changes; if the digest
    * matches, the run provably reads byte-identical data in the
    * identical order (the data-card / WAP-audit companion to p5's
    * pure-function layout). One pass: the position window and the
    * shard rollup both hash on `shard`, so the exchange is reused —
    * no join, no global sort; shard count (256) bounds the output.
    * Fully oracled — DuckDB's ordered string_agg computes the
    * identical digest chain.
    */
  def shardManifest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("hk", "doc_id")
    documents(s, d)
      .select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("hk"),
        md5(col("text")).as("cmd5"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("shard", substring(col("hk"), 1, 2))
      .withColumn("pos", row_number().over(w))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("cmd5")))),
            x => x.getField("cmd5")),
          "|")).as("manifest_md5"))
      .orderBy("shard")
  }

  /** p16 — INCREMENTAL corpus ingest: a new document batch (the daily
    * crawl increment — here the deterministic doc_id % 5 == 4 slice)
    * cleaned and deduplicated AGAINST THE EXISTING CORPUS, not by a
    * full recompute — the production shape where ingest cost must be
    * ∝ batch, never ∝ corpus. Three stages, all t27/d1 semantics made
    * incremental:
    *   1. boilerplate cleaning judges batch lines against the
    *      EXISTING corpus's line-frequency index (new lines can't
    *      vote themselves common);
    *   2. cross-corpus exact dedup anti-joins the batch's cleaned-text
    *      md5 against the corpus's cleaned-md5 set;
    *   3. within-batch exact dedup keeps the min-id copy.
    * Output = the per-source accounting the increment signs off on.
    *
    * Scale: every stage's per-batch cost is batch-sized. The two
    * corpus-derived inputs — the line-frequency index and the
    * clean-md5 set — are 8/16-byte hash tables, in production
    * MAINTAINED across ingests (each batch's kept hashes append);
    * the query materializes them from the table only because the
    * declared surface is stateless across calls. Shuffles carry
    * hashes, never text; the within-batch keeper window partitions by
    * clean_md5 (batch-sized groups). Fully oracled via chained CTEs.
    */
  def incrementalIngest(s: SparkSession, d: String, segWords: Int = 5,
      minDocs: Int = 2, mod: Int = 5): DataFrame = {
    val lines = segLines(s, d, segWords)
    val isBatch = pmod(col("doc_id"), lit(mod)) === (mod - 1)
    val corpusLines = lines.filter(!isBatch)
    val bp = corpusLines.withColumn("lh", xxhash64(col("line")))
      .groupBy("lh").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > minDocs)
      .select(col("lh"), lit(true).as("bp"))
    def cleanSide(ls: DataFrame): DataFrame =
      ls.withColumn("lh", xxhash64(col("line")))
        .join(bp, Seq("lh"), "left")
        .withColumn("bp", coalesce(col("bp"), lit(false)))
        .groupBy("doc_id", "source")
        .agg(
          sum(when(col("bp"), 1L).otherwise(0L)).as("n_removed_lines"),
          sum(when(col("bp"), 0L)
            .otherwise(size(split(col("line"), " ")).cast("long")))
            .as("clean_toks"),
          md5(array_join(
            transform(
              array_sort(collect_list(
                when(!col("bp"), struct(col("line_idx"), col("line"))))),
              x => x.getField("line")),
            " ")).as("clean_md5"))
    val corpusMd5 = cleanSide(corpusLines)
      .select("clean_md5").distinct()
      .withColumn("dup_corpus", lit(true))
    val flagged = cleanSide(lines.filter(isBatch))
      .join(corpusMd5, Seq("clean_md5"), "left")
      .withColumn("dup_corpus", coalesce(col("dup_corpus"), lit(false)))
      .withColumn("keeper",
        min("doc_id").over(Window.partitionBy("clean_md5")))
    flagged.groupBy("source").agg(
      count(lit(1)).as("n_batch"),
      sum(when(col("dup_corpus"), 1L).otherwise(0L)).as("n_dup_corpus"),
      sum(when(!col("dup_corpus") && col("doc_id") =!= col("keeper"), 1L)
        .otherwise(0L)).as("n_dup_batch"),
      sum(when(!col("dup_corpus") && col("doc_id") === col("keeper"), 1L)
        .otherwise(0L)).as("n_kept"),
      sum(when(!col("dup_corpus") && col("doc_id") === col("keeper"),
        col("clean_toks")).otherwise(0L)).as("toks_kept"),
      sum("n_removed_lines").as("lines_removed"))
      .orderBy("source")
  }

  /** t22 — BPE merge-pair learning (the tokenizer-training loop,
    * Sennrich et al. 2016): ONE corpus pass folds documents into the
    * (word, count) vocabulary; every one of the k merge rounds then
    * runs on that VOCAB-sized table — an adjacent-pair count (narrow
    * zip_with generator + map-side-combined sum), a 1-row argmax
    * collect, and a narrow left-to-right fold that applies the merge
    * to each word's symbol array. The per-round single-row collect is
    * inherent to sequential BPE (round i+1's counts depend on round
    * i's rewrite — the same justification as BFS's per-level
    * termination check); what matters at 100 TB is that the corpus is
    * read once and the iteration state is the vocabulary (~10⁶ rows
    * for web-scale text), so k rounds are k vocab-sized shuffles.
    * Ties argmax-broken by (count DESC, left, right) so the learned
    * merge table is a deterministic function of the corpus.
    * [[Iterate]] checkpoints the symbols every 3 rounds to truncate the
    * growing fold lineage (the cadence is argued in the loop). Fully
    * oracled since r12:
    * the deterministic greedy is REPLAYED in a DuckDB recursive CTE
    * (see bpeReplayCtes) — argmax, tie-break, and the left-to-right
    * merge all bit-for-bit; in-memory-BPE parity and rerun
    * determinism stay spec-pinned.
    */
  def bpeMerges(s: SparkSession, d: String, k: Int = 20,
      minCount: Long = 2L): DataFrame = {
    val words = documents(s, d)
      .select(wordTokens(col("text")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    bpeMergesFromWords(s, words, k, minCount)
  }

  /** The merge loop over an explicit (w, cnt) vocabulary — exposed so
    * the spec can drive the classic 4-word corpus through it.
    */
  private[ops] def bpeMergesFromWords(s: SparkSession, words: DataFrame,
      k: Int, minCount: Long): DataFrame = {
    import s.implicits._
    // initial symbols: characters plus an end-of-word marker, so merges
    // distinguish word-final units from word-internal ones
    val init = words.select(col("cnt").cast("long").as("cnt"),
      concat(filter(split(col("w"), ""), x => length(x) > 0),
        array(lit("</w>"))).as("sym"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    // cadence 3, measured in r19: BPE's round is ONE job (the argmax
    // collect), so per-round checkpointing ADDS a job without saving
    // one — min-of-3 A/B showed 2.49 s → 2.74 s. WordPiece's round is
    // two jobs and does win from per-round materialization (cadence 1).
    Iterate("bpeMerges", init, k, every = 3) { (syms, step) =>
      val top = pairCounts(syms)
        .orderBy(desc("pc"), asc("l"), asc("r"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < minCount) None
      else {
        val l = top(0).getString(0)
        val r = top(0).getString(1)
        val pc = top(0).getLong(2)
        merges += ((step, l, r, pc))
        Some(applyMerge(syms, l, r, l + r))
      }
    }
    merges.toSeq.toDF("step", "left", "right", "pair_count")
  }

  /** Adjacent-symbol pair counts (l, r, pc) of a (cnt, sym) vocabulary. */
  private def pairCounts(syms: DataFrame): DataFrame =
    syms.select(col("cnt"), explode(zip_with(
        slice(col("sym"), lit(1), size(col("sym")) - 1),
        slice(col("sym"), lit(2), size(col("sym")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("cnt").as("pc"))

  /** One merge (l, r) → `merged` applied to every word of a (cnt, sym)
    * vocabulary, greedily left to right: acc ends with `l` and the next
    * symbol is `r` → pop, push the merged atom. The merged atom is a
    * DIFFERENT string from `l` (r is never empty), so overlapping runs
    * merge non-overlapping pairs exactly like the sequential algorithm
    * ("aaaa" + (a,a) → [aa, aa]).
    */
  private def applyMerge(syms: DataFrame, l: String, r: String,
      merged: String): DataFrame = {
    val (lw, rw) = (lit(l), lit(r))
    syms.select(col("cnt"),
      aggregate(col("sym"), array().cast("array<string>"),
        (acc, x) => when(size(acc) > 0 && element_at(acc, -1) === lw && x === rw,
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
          .otherwise(concat(acc, array(x)))).as("sym"))
  }

  /** Sequential application of an ordered merge list to one word — the
    * EXACT in-memory mirror of [[bpeMergesFromWords]]' distributed fold
    * (same left-to-right greedy rule, same `</w>` marker), so encoding
    * with learned merges reproduces precisely the symbols training ended
    * with. Bounded: |word| symbols, |merges| passes.
    */
  private[ops] def applyBpeMerges(word: String,
      merges: Seq[(String, String)]): Seq[String] = {
    var syms: Vector[String] =
      word.split("").filter(_.nonEmpty).toVector :+ "</w>"
    merges.foreach { case (l, r) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      syms.foreach { x =>
        if (out.nonEmpty && out.last == l && x == r)
          out(out.length - 1) = l + r
        else out += x
      }
      syms = out.toVector
    }
    syms
  }

  /** The learned merge list, collected once per (dataset, k): k rows —
    * bounded by the merge budget, never the corpus — and every encoder
    * run over the same dataset reuses it (the PQ-codebook memoization
    * discipline).
    */
  private def learnedMerges(s: SparkSession, d: String,
      k: Int): Seq[(String, String)] =
    Staged.value(s, "bpe_merges", d, k) {
      bpeMerges(s, d, k).orderBy("step").collect().toSeq
        .map(r => (r.getString(1), r.getString(2)))
    }

  /** t38 — WORDPIECE merge learning (Schuster & Nakajima 2012; the
    * BERT tokenizer's trainer): like BPE (t22) the loop greedily merges
    * one adjacent symbol pair per round, but the objective is the
    * LIKELIHOOD gain of a unigram LM — argmax of count(lr) /
    * (count(l)·count(r)) — so a rare-but-collocated pair beats a merely
    * frequent one. Continuation pieces carry the ## prefix
    * (word-initial "a" and continuation "##a" are DIFFERENT units with
    * different counts — BERT's convention), and a merge concatenates
    * the left unit with the right unit's suffix.
    *
    * The argmax is over RATIONALS; fp sorting could misorder near-ties
    * cross-engine, so selection is exact: candidates are narrowed by a
    * double-score band (sound — the true max's double is within an ulp
    * of the band top), then the winner is decided by BigInt
    * cross-multiplication, ties by (l, r). The DuckDB replay reaches
    * the same total order with one HUGEINT sort key,
    * floor(pc·2⁹⁰/(cl·cr)): distinct rationals with denominators
    * cl·cr ≤ ~10¹³ differ by at least (cl·cr)⁻² ≈ 10⁻²⁶, and
    * 2⁹⁰ ≈ 1.2·10²⁷ stretches that gap past the ±1 truncation error,
    * so floored keys order exactly like the rationals (a 100 TB corpus
    * would move both sides to 256-bit cross-compare).
    *
    * Dataflow: the corpus folds once into the (word, cnt) vocab; each
    * round is vocab-sized — pair counts and symbol counts (map-side
    * combined), a ≤handful-row band collect, a narrow re-segmentation
    * fold — so k rounds cost k vocab-sized shuffles, t22's budget plus
    * one join.
    */
  def wordpieceMerges(s: SparkSession, d: String, k: Int = 15,
      minCount: Long = 2L): DataFrame = {
    import s.implicits._
    val words = documents(s, d)
      .select(wordTokens(col("text")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val chars = filter(split(col("w"), ""), x => length(x) > 0)
    val init = words.select(col("cnt").cast("long").as("cnt"),
      transform(chars, (c, i) =>
        when(i === 0, c).otherwise(concat(lit("##"), c))).as("sym"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long, Long)]
    Iterate("wordpieceMerges", init, k) { (syms, step) =>
      val pairs = pairCounts(syms).filter(col("pc") >= minCount)
      val scounts = syms.select(col("cnt"), explode(col("sym")).as("s"))
        .groupBy("s").agg(sum("cnt").as("sc"))
      val scored = pairs
        .join(scounts.select(col("s").as("l"), col("sc").as("cl")), "l")
        .join(scounts.select(col("s").as("r"), col("sc").as("cr")), "r")
        .withColumn("ds", col("pc").cast("double") / (col("cl") * col("cr")))
        // r19 (guide §5): evaluated twice per round (max agg + band
        // collect) — cache so the pair/symbol counts run once
        .cache()
      val mxRow = scored.agg(max("ds")).head
      if (mxRow.isNullAt(0)) { scored.unpersist(blocking = false); None }
      else {
        val band = scored
          .filter(col("ds") >= mxRow.getDouble(0) * (1 - 1e-12))
          .select("l", "r", "pc", "cl", "cr").collect()
          .map(r => (r.getString(0), r.getString(1),
            r.getLong(2), r.getLong(3), r.getLong(4)))
        scored.unpersist(blocking = false)
        val win = band.reduceLeft { (a, b) =>
          val lhs = BigInt(a._3) * BigInt(b._4) * BigInt(b._5)
          val rhs = BigInt(b._3) * BigInt(a._4) * BigInt(a._5)
          if (lhs > rhs) a else if (lhs < rhs) b
          else if (a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)) a else b
        }
        val (l, r, pc, cl, cr) = win
        merges += ((step, l, r, pc, cl, cr))
        Some(applyMerge(syms, l, r, l + r.stripPrefix("##")))
      }
    }
    merges.toSeq.toDF("step", "left", "right",
      "pair_count", "left_count", "right_count")
  }

  /** Learned WordPiece inventory, collected once per (dataset, k):
    * both position classes of every corpus character (c and ##c — a
    * char only ever seen word-initially gets a ##-form too, which is
    * unreachable when encoding the same corpus, so the closure choice
    * is observationally equal to BERT's and identical on both engines)
    * plus the k merge outputs in their own position class.
    */
  private def learnedWordpieceVocab(s: SparkSession, d: String,
      k: Int): Seq[String] =
    Staged.value(s, "wordpiece_vocab", d, k) {
      val merges = wordpieceMerges(s, d, k).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2)))
      val alphabet = documents(s, d)
        .select(wordTokens(col("text")).as("w"))
        .filter(length(col("w")) > 0)
        .select(explode(filter(split(col("w"), ""),
          x => length(x) > 0)).as("c"))
        .distinct().collect().map(_.getString(0)).toSeq
      val mergedPieces = merges.map { case (l, r) => l + r.stripPrefix("##") }
      (alphabet.flatMap(c => Seq(c, "##" + c)) ++ mergedPieces).distinct
    }

  /** t39 — WORDPIECE ENCODE by GREEDY LONGEST MATCH (MaxMatch — BERT's
    * actual inference algorithm, and a genuinely different procedure
    * from training's merge replay, unlike BPE where t25 re-applies
    * t22's merges): at each position take the longest vocabulary piece
    * of the right position class (word-initial vs ##-continuation) and
    * jump past it. The whole matcher compiles to ONE Catalyst
    * `aggregate` fold over character positions with a nested
    * longest-first `when` chain probing literal piece arrays — no UDF,
    * fully codegen'd, and the vocabulary is a ≤(2·alphabet + k)-entry
    * broadcast literal. Encode cost is the t25 shape: the fold runs
    * per DISTINCT word (vocab-sized), then joins back to per-(doc,
    * word) counts. The DuckDB oracle replays MaxMatch as a recursive
    * CTE over (word, pos) with a correlated longest-prefix probe into
    * the SAME piece inventory derived from the replayed merges.
    */
  def wordpieceEncode(s: SparkSession, d: String, k: Int = 15): DataFrame = {
    val pieces = learnedWordpieceVocab(s, d, k)
    val byClassLen: Map[(Boolean, Int), Seq[String]] = pieces
      .map(p => (p.startsWith("##"), p.stripPrefix("##")))
      .groupBy(p => (p._1, p._2.length)).view.mapValues(_.map(_._2)).toMap
    val maxL = byClassLen.keys.map(_._2).max
    def hit(cont: Boolean, j: Int, sub: Column): Column =
      byClassLen.get((cont, j))
        .map(raws => array_contains(typedlit(raws), sub))
        .getOrElse(lit(false))
    def nUnits(w: Column): Column = {
      val zero = struct(lit(0L).as("units"), lit(0).as("skip"))
      aggregate(sequence(lit(1), length(w)), zero, (acc, i) => {
        val u = acc.getField("units")
        val sk = acc.getField("skip")
        // longest-first: later (larger-j) whens are built OUTERMOST
        var ml: Column = lit(1)
        for (j <- 2 to maxL) {
          val sub = w.substr(i, lit(j))
          val h = (i + lit(j - 1) <= length(w)) &&
            when(i === 1, hit(cont = false, j, sub))
              .otherwise(hit(cont = true, j, sub))
          ml = when(h, lit(j)).otherwise(ml)
        }
        when(sk > 0, struct(u.as("units"), (sk - 1).as("skip")))
          .otherwise(struct((u + 1L).as("units"), (ml - 1).as("skip")))
      }, acc => acc.getField("units"))
    }
    val docWords = documents(s, d)
      .select(col("doc_id"),
        wordTokens(col("text")).as("w"))
      .filter(length(col("w")) > 0)
    val perDocWord = docWords.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val vocabUnits = perDocWord.select("w").distinct()
      .select(col("w"), nUnits(col("w")).as("n_units"),
        length(col("w")).cast("long").as("n_chars"))
    perDocWord.join(vocabUnits, "w")
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("n_units")).as("n_wp_units"),
        round(sum(col("c") * col("n_chars")).cast("double") /
          sum(col("c") * col("n_units")), 4).as("chars_per_unit"))
      .orderBy("doc_id")
  }

  // ---- t40/t41: UNIGRAM-LM (SentencePiece) tokenizer ----

  /** Viterbi DP over one word as ONE Catalyst `aggregate` fold (t39's
    * no-UDF discipline): returns struct(sc, seg) — the max-log-prob
    * segmentation of `w` under the piece→logp literal map, scores
    * rounded to 6 dp at every DP cell so both engines walk the same
    * lattice (6 dp because the inputs are ln() outputs, whose last-ulp
    * engine differences are 10 orders below the rounding grid — the
    * t37/TF-IDF discipline, vs 12 dp where a boundary flip is no longer
    * astronomically unlikely). Ties take the SHORTEST last piece
    * (score DESC, j ASC — the DuckDB replay's sort key); the candidate
    * guard `i >= j` is the LEFT conjunct so out-of-range substr/
    * element_at branches are never evaluated (And short-circuits,
    * CaseWhen evaluates branch values lazily).
    */
  private def unigramViterbi(w: Column, lp: Seq[(String, Double)],
      maxL: Int): Column = {
    val cellT = "struct<sc:double,seg:array<string>>"
    val lpMap = map_from_arrays(
      typedlit(lp.map(_._1)), typedlit(lp.map(_._2)))
    val zero = array(struct(lit(0.0).as("sc"),
      array().cast("array<string>").as("seg")))
    aggregate(sequence(lit(1), length(w)), zero, (acc, i) => {
      var best: Column = lit(null).cast(cellT)
      for (j <- maxL to 1 by -1) {
        val sub = w.substr(i - lit(j) + 1, lit(j))
        val prev = element_at(acc, i - lit(j) + 1)
        val lgp = element_at(lpMap, sub)
        val cand = round(prev.getField("sc") + lgp, 6)
        val ok = (i >= lit(j)) && lgp.isNotNull
        val candCell = struct(cand.as("sc"),
          concat(prev.getField("seg"), array(sub)).as("seg"))
        best = when(ok && (best.isNull || cand >= best.getField("sc")),
          candCell).otherwise(best)
      }
      concat(acc, array(best))
    }, acc => element_at(acc, -1))
  }

  private def r6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The distinct-word inventory (Zipf rollup — every per-word pass in
    * the tokenizer family runs on this, never the fact table).
    */
  private def wordInventory(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(wordTokens(col("text")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** One Viterbi E-step: per distinct word, the best segmentation under
    * `lp`; returns piece → Σ word-count-weighted occurrences (bounded:
    * ≤ |lp| rows collected).
    */
  private def unigramCounts(s: SparkSession, d: String,
      lp: Seq[(String, Double)], maxL: Int): Map[String, Long] =
    wordInventory(s, d)
      .select(col("cnt"),
        explode(unigramViterbi(col("w"), lp, maxL).getField("seg")).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** t40 — UNIGRAM-LM tokenizer training (Kudo 2018 — the SentencePiece
    * default used by T5/LLaMA-family pipelines; completes the industry
    * tokenizer triad beside BPE t22/t25 and WordPiece t38/t39, which
    * learn MERGES while this learns a PROBABILITY MODEL over a pruned
    * piece inventory). Deterministic hard-EM variant, exactly
    * replayable cross-engine:
    *
    *  1. SEED: every substring of the distinct-word inventory up to
    *     `maxLen` chars, frequency-weighted by word counts; capped at
    *     `seedCap` multi-char pieces by (freq DESC, piece ASC) with
    *     every single char retained (coverage guarantee). Initial
    *     p₀(x) = freq(x)/Σfreq.
    *  2. E-STEP (Viterbi): each distinct word takes its max-probability
    *     segmentation (hard EM — the Viterbi specialization of Kudo's
    *     forward-backward E-step, chosen because the argmax path is
    *     exactly replayable where expected-count sums are not);
    *     expected counts = word-count-weighted piece occurrences.
    *  3. M-STEP: Laplace-smoothed re-estimate p(x) = (c(x)+1)/(C+V) —
    *     smoothing keeps never-chosen coverage chars finite.
    *  4. PRUNE by likelihood-mass contribution c(x)·log p(x) (Kudo's
    *     loss-contribution with the re-segmentation term dropped —
    *     deterministic and exactly replayable), single chars always
    *     retained, to `vocabTarget` pieces.
    *  5. Second E/M round on the pruned vocabulary → final counts and
    *     log-probs.
    *
    * All log-probs are rounded to 6 dp and every DP cell re-rounds, so
    * the DuckDB replay (three recursive-CTE Viterbi lattices — seed,
    * pruned, encode — t39's correlated-probe pattern carrying the DP
    * list per (word, pos) like e23's value-iteration state) reaches
    * bit-identical segmentations. Scale shape: every pass is one
    * vocab-sized fold + a bounded (≤ seed-sized) collect; the corpus is
    * touched once for the word inventory.
    */
  private[graft] def unigramVocab(s: SparkSession, d: String,
      maxLen: Int = 4, seedCap: Int = 400, vocabTarget: Int = 44)
      : Seq[(String, Long, Double)] =
    Staged.value(s, "unigram_vocab", d, maxLen, seedCap, vocabTarget) {
      val words = wordInventory(s, d)
      // seed substring frequencies (distributed; nested transform —
      // one row per (word, start, len) before the piece rollup)
      val subs = words.select(col("cnt"), explode(flatten(
        transform(sequence(lit(1), length(col("w"))), i =>
          transform(
            sequence(lit(1), least(lit(maxLen), length(col("w")) - i + 1)),
            j => col("w").substr(i, j))))).as("piece"))
        .groupBy("piece").agg(sum("cnt").as("freq"))
      val chars = subs.filter(length(col("piece")) === 1)
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy(_._1) // alphabet-bounded
      val multi = subs.filter(length(col("piece")) > 1)
        .orderBy(desc("freq"), asc("piece")).limit(seedCap)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val seed = chars ++ multi
      val totalSeed = seed.map(_._2).sum
      val lp0 = seed.map { case (p, f) =>
        p -> r6(math.log(f.toDouble / totalSeed.toDouble)) }
      // E1 + M1 over the full seed
      val c1 = unigramCounts(s, d, lp0, maxLen)
      val tc1 = c1.values.sum
      val v1 = seed.size
      val lp1 = seed.map { case (p, _) =>
        p -> r6(math.log(
          (c1.getOrElse(p, 0L) + 1).toDouble / (tc1 + v1).toDouble)) }
      val lp1Map = lp1.toMap
      // prune by likelihood mass c·logp (ASC: most negative = most
      // mass = kept first), ties by piece; chars always retained
      val keptMulti = multi.map(_._1)
        .sortBy(p => (c1.getOrElse(p, 0L).toDouble * lp1Map(p), p))
        .take(math.max(0, vocabTarget - chars.length))
      val vocab2 = (chars.map(_._1) ++ keptMulti).map(p => p -> lp1Map(p))
      // E2 + M2 on the pruned vocabulary
      val c2 = unigramCounts(s, d, vocab2, maxLen)
      val tc2 = c2.values.sum
      val v2 = vocab2.size
      vocab2.map { case (p, _) =>
        (p, c2.getOrElse(p, 0L), r6(math.log(
          (c2.getOrElse(p, 0L) + 1).toDouble / (tc2 + v2).toDouble)))
      }
    }

  /** The declared t40 rollup: the final unigram vocabulary ranked by
    * (count DESC, piece ASC).
    */
  def unigramTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    unigramVocab(s, d)
      .sortBy { case (p, n, _) => (-n, p) }.zipWithIndex
      .map { case ((p, n, lg), i) => (i + 1L, p, n, lg) }
      .toSeq.toDF("rank", "piece", "n", "logp")
  }

  /** t41 — UNIGRAM-LM (Viterbi) ENCODE: tokenize the corpus with t40's
    * learned model — genuinely different inference from training's
    * E-step only in the model it loads (Viterbi IS SentencePiece's
    * production encoder, unlike BPE/WordPiece whose encode algorithms
    * differ from training). Same scale shape as t25/t39: the fold runs
    * once per DISTINCT word, per-doc counts come from the (doc, word)
    * join; the vocabulary is a ≤ vocabTarget-entry broadcast literal.
    */
  def unigramEncode(s: SparkSession, d: String, maxLen: Int = 4): DataFrame = {
    val lp = unigramVocab(s, d).map { case (p, _, lg) => p -> lg }
    val docWords = documents(s, d)
      .select(col("doc_id"),
        wordTokens(col("text")).as("w"))
      .filter(length(col("w")) > 0)
    val perDocWord = docWords.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val vocabUnits = perDocWord.select("w").distinct()
      .select(col("w"),
        size(unigramViterbi(col("w"), lp, maxLen).getField("seg"))
          .cast("long").as("n_units"),
        length(col("w")).cast("long").as("n_chars"))
    perDocWord.join(vocabUnits, "w")
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("n_units")).as("n_units_total"),
        round(sum(col("c") * col("n_chars")).cast("double") /
          sum(col("c") * col("n_units")), 4).as("chars_per_unit"))
      .orderBy("doc_id")
  }

  /** t25 — BPE ENCODE: apply t22's learned merges to tokenize the
    * corpus — the other half of the tokenizer lifecycle (t22 trains it,
    * this runs it over every document, the single most-executed step of
    * an LLM data pipeline). Scale shape: the merge table (k rows)
    * broadcasts; encoding runs ONCE PER DISTINCT WORD on the vocab-sized
    * rollup — Zipf means the corpus re-uses a small vocabulary, so the
    * imperative merge loop never touches the fact table — and per-doc
    * token counts come from joining unit counts back to the (doc, word)
    * count table (hash-partitioned on the word, the only data-sized
    * exchanges). Per-doc output: whitespace words, BPE units, and the
    * chars-per-unit compression proxy. Fully oracled since r12 via the
    * bpeReplayCtes merge replay + the same vocab-encode-then-join in
    * SQL; encoder-vs-training parity and unit-count bounds stay
    * spec-pinned.
    */
  def bpeEncode(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(learnedMerges(s, d, k))
    val docWords = documents(s, d)
      .select(col("doc_id"), wordTokens(col("text")).as("w"))
      .filter(length(col("w")) > 0)
    val perDocWord = docWords.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val vocabUnits = perDocWord.select("w").distinct().as[String]
      .mapPartitions { it =>
        val m = bc.value
        it.map(w => (w, applyBpeMerges(w, m).length.toLong, w.length.toLong))
      }.toDF("w", "n_units", "n_chars")
    perDocWord.join(vocabUnits, "w")
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("n_units")).as("n_bpe_tokens"),
        round(sum(col("c") * col("n_chars")).cast("double") /
          sum(col("c") * col("n_units")), 4).as("chars_per_unit"))
      .orderBy("doc_id")
  }

  /** t32 — tokenizer FERTILITY report: per language, BPE units per
    * whitespace word under t25's learned tokenizer — the
    * tokenizer-efficiency audit every multilingual tokenizer paper
    * tables (a language with high fertility pays more sequence length
    * per word, the signal vocab-size and merge-budget decisions are
    * made from). Pure composition, not recomputation: t25's per-doc
    * encode (memoized merge table, vocab-sized encode rollup) joined
    * to the doc's language, rolled up to a |langs|-row report. Fully
    * oracled since r12 (rides the bpeReplayCtes merge replay); the
    * spec pins fertility ≥ 1, rollup ≡ per-doc t25 aggregated
    * independently, and merge-budget monotonicity (more merges never
    * increase any language's fertility).
    */
  def tokenizerFertility(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    bpeEncode(s, d, k)
      .join(documents(s, d).select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_units"),
        round(sum("n_bpe_tokens").cast("double") /
          sum("n_words").cast("double"), 4).as("fertility"))
      .orderBy("lang")
  }

  /** t33 — BLOCKLIST (badword) filter report: the C4-style explicit
    * term filter (Raffel et al. 2020 §2.2 — the "List of Dirty,
    * Naughty ... Words" stage) — the third standard filter family
    * beside t23's hand rules and t28's learned classifier: a doc is
    * flagged iff ANY whitespace token is on the broadcast blocklist,
    * and the report is per-source docs/flagged/keep-rate plus total
    * blocked-token occurrences (the accounting a filter change is
    * reviewed with). One narrow codegen'd `filter` over the token
    * array per row — no explode, no shuffle before the |sources|-row
    * rollup; at 100 TB the list is O(thousands) and broadcasts as a
    * literal. Fully oracled (DuckDB's list_filter + list_contains
    * recompute the identical per-doc counts).
    */
  def blocklistFilter(s: SparkSession, d: String,
      blocklist: Seq[String] = Seq("slow", "error", "crash")): DataFrame = {
    val listCol = typedlit(blocklist)
    documents(s, d)
      .withColumn("n_blocked",
        size(filter(tokens(col("text")), t => array_contains(listCol, t)))
          .cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_blocked") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum("n_blocked").as("n_blocked_tokens"),
        round(lit(1.0)
          - sum(when(col("n_blocked") > 0, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("keep_rate"))
      .orderBy("source")
  }

  /** t26 — DSIR importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): every doc scored
    * by the mean per-token log-ratio of an add-one-smoothed TARGET
    * unigram LM (here: the English slice, the "I want my corpus to look
    * like this" distribution) over the SOURCE LM (the whole corpus) —
    * the principled replacement for hand-rule filtering when up-sampling
    * toward a reference distribution; resampling by these weights is the
    * paper's recipe. One exploded token pass feeds both count tables
    * (cached); the three scalar totals broadcast back as a 1-row cross
    * join (a16's discipline); smoothing and the log-ratio follow t16's
    * oracled add-one + ln + round-6dp pairing, so the score is fully
    * DuckDB-checkable.
    */
  def dsirWeights(s: SparkSession, d: String,
      targetLang: String = "en"): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
      .cache() // feeds source counts, target counts, totals, and scoring
    val srcCnt = tok.groupBy("w").agg(count(lit(1)).as("cs"))
    val tgtCnt = tok.filter(col("lang") === targetLang)
      .groupBy("w").agg(count(lit(1)).as("ct"))
    val totals = srcCnt.agg(sum("cs").as("ns"), count(lit(1)).as("v"))
      .crossJoin(tok.filter(col("lang") === targetLang)
        .agg(count(lit(1)).as("nt")))
    tok.join(srcCnt, "w").join(tgtCnt, Seq("w"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        (log((col("ct") + 1).cast("double") / (col("nt") + col("v")).cast("double")) -
          log((col("cs") + 1).cast("double") / (col("ns") + col("v")).cast("double")))
          .as("llr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        round(avg("llr"), 6).as("mean_log_ratio"))
      .orderBy("doc_id")
  }

  /** t23 — Gopher-style rule-filter REPORT: the four classic
    * rep-quality gates (word count in range, mean word length in
    * range, ≥80% alphabetic words, ≥2% stopwords) evaluated per doc
    * and rolled up per source with per-rule violation counts — the
    * sign-off accounting a corpus filter ships with, and the
    * composition t2/t7 score but never DECIDE. Every rule compares
    * INTEGER multiples (3·n ≤ chars, 5·alpha ≥ 4·n, 50·stop ≥ n)
    * instead of floating ratios, so the decision — and therefore the
    * oracle — is bit-exact across engines. One narrow pass over the
    * corpus, |sources|-row output, map-side-combinable sums.
    */
  def gopherFilterReport(s: SparkSession, d: String): DataFrame = {
    val stopWords = Seq("the", "and", "of", "to", "a", "in", "is", "that")
    val t = tokens(col("text"))
    val n = size(t).cast("long")
    val chars = aggregate(transform(t, w => length(w).cast("long")),
      lit(0L), (a, x) => a + x)
    val nAlpha = size(filter(t, w => w.rlike("^[A-Za-z]+$"))).cast("long")
    val nStop = size(filter(t,
      w => lower(w).isin(stopWords: _*))).cast("long")
    val rLen = n.between(10L, 100000L)
    val rWordlen = (chars >= n * 2) && (chars <= n * 10)
    val rAlpha = nAlpha * 5 >= n * 4
    val rStop = nStop * 50 >= n
    documents(s, d)
      .select(col("source"), rLen.as("r_len"), rWordlen.as("r_wordlen"),
        rAlpha.as("r_alpha"), rStop.as("r_stop"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("r_len"), 1L).otherwise(0L)).as("viol_len"),
        sum(when(!col("r_wordlen"), 1L).otherwise(0L)).as("viol_wordlen"),
        sum(when(!col("r_alpha"), 1L).otherwise(0L)).as("viol_alpha"),
        sum(when(!col("r_stop"), 1L).otherwise(0L)).as("viol_stop"),
        sum(when(col("r_len") && col("r_wordlen") && col("r_alpha") &&
          col("r_stop"), 1L).otherwise(0L)).as("kept"))
      .orderBy("source")
  }

  /** p10 — semantic-cluster-balanced corpus mix: every document is
    * assigned to one of k embedding clusters (the v3 quantizer
    * machinery — seeded KMeans on the hash-de-biased SAMPLE, then a
    * codegen'd nearest-centroid argmax over the corpus; fit cost ∝
    * sample, assignment one narrow pass), and each cluster's token
    * budget is capped at an equal share of the global budget, filled
    * in md5(doc_id) order — p3's discipline, so mix membership is a
    * pure function of (doc_id, centroids), rerun-stable. This is the
    * topic-balance resample (SemDeDup/DoReMi-adjacent): a dominant
    * semantic cluster cannot swamp the training mix, and
    * under-represented clusters keep everything under their cap. The
    * doc↔embedding join hashes both fact tables on the SAME id — one
    * exchange each; the per-cluster fill window partitions k ways on
    * cluster-sized slices. Output is the |k|-row accounting report.
    * Rows-only (KMeans centroids have no SQL twin); cap, purity,
    * nearest-centroid membership, and rerun determinism are
    * spec-pinned.
    */
  def clusterBalancedMix(s: SparkSession, d: String, k: Int = 8,
      frac: Double = 0.5, seed: Long = 42L): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val cents = Similarity.fitQuantizer(e, "embedding", k, seed = seed)
    val docs = documents(s, d).select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tok"),
      md5(col("doc_id").cast("string")).as("hk"))
    if (cents.isEmpty)
      return s.range(0).select(lit(0).as("cell"), lit(0L).as("n_docs"),
        lit(0L).as("docs_kept"), lit(0L).as("tokens_kept"),
        lit(0L).as("budget"))
    val best = Similarity.assignCell(col("embedding"), cents)
    val assigned = e.select(col("vec_id").as("doc_id"),
      (lit(0) - best.getField("negcell")).as("cell"))
    val joined = docs.join(assigned, "doc_id")
    // equal share of the global token budget per cluster — broadcast,
    // 1-row aggregate
    val budget = joined.agg(
      floor(sum("n_tok").cast("double") * frac / k).cast("long").as("budget"))
    val fill = Window.partitionBy("cell").orderBy("hk", "doc_id")
    joined.withColumn("cum", sum("n_tok").over(fill))
      .crossJoin(broadcast(budget))
      .withColumn("kept", (col("cum") <= col("budget")).cast("int"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_docs"), sum("kept").as("docs_kept"),
        sum(when(col("kept") === 1, col("n_tok")).otherwise(0L))
          .as("tokens_kept"),
        max("budget").as("budget"))
      .orderBy("cell")
  }

  // ------------------------------------------------------------------
  // t27 — LINE-LEVEL boilerplate dedup (the C4/RefinedWeb cleaning
  // step): hash every line, drop lines appearing in more than minDocs
  // DISTINCT documents (nav bars, cookie banners, footers — content
  // that repeats across pages), re-emit the cleaned document plus
  // removed-line/char accounting.
  // ------------------------------------------------------------------

  /** Shared rewrite core over a (doc_id, source, line_idx, line) table.
    * Scale shape (t15's inverted-index discipline): lines join on
    * xxhash64 — 8-byte shuffle keys, and the boilerplate cut happens on
    * the line-hash aggregate BEFORE anything joins back, so the mark
    * join's build side is only the duplicated tail, never the corpus.
    * Reassembly is one per-doc aggregation: kept (line_idx, line) pairs
    * collect, sort by index, and join back into the cleaned text —
    * order restored by data, not by task order. A 64-bit hash collision
    * could only FALSELY mark a unique line as boilerplate if it collided
    * with a line in >minDocs other docs (~n²/2⁶⁵ — immaterial, t15's
    * analysis).
    */
  private[graft] def lineDedupCore(lines: DataFrame, minDocs: Int,
      joinSep: String): DataFrame =
    lineDedupText(lines, minDocs, joinSep)
      .select(col("doc_id"), col("source"), col("n_lines"), col("n_kept"),
        col("n_removed"), col("removed_chars"),
        md5(col("clean")).as("clean_md5"))
      .orderBy("doc_id")

  /** [[lineDedupCore]]'s underlying rewrite with the cleaned TEXT (and
    * original/cleaned token counts) exposed — p13 chains the cleaned
    * document into downstream stages, t27 only needs its md5.
    */
  private[graft] def lineDedupText(lines: DataFrame, minDocs: Int,
      joinSep: String): DataFrame = {
    val hashed = lines.withColumn("lh", xxhash64(col("line")))
    val bp = hashed.groupBy("lh")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > minDocs)
      .select(col("lh"), lit(true).as("bp"))
    hashed.join(bp, Seq("lh"), "left")
      .withColumn("bp", coalesce(col("bp"), lit(false)))
      .groupBy("doc_id", "source")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("bp"), 0L).otherwise(1L)).as("n_kept"),
        sum(when(col("bp"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("bp"), length(col("line")).cast("long")).otherwise(0L))
          .as("removed_chars"),
        sum(size(split(col("line"), " ")).cast("long")).as("orig_toks"),
        sum(when(col("bp"), 0L)
          .otherwise(size(split(col("line"), " ")).cast("long")))
          .as("clean_toks"),
        // collect_list drops the nulls `when` leaves for boilerplate
        // lines; array_sort on (line_idx, line) structs restores
        // document order deterministically (line_idx is unique per doc)
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("bp"), struct(col("line_idx"), col("line"))))),
            x => x.getField("line")),
          joinSep).as("clean"))
  }

  /** The literal C4 shape — text split on newline. The synthetic corpus
    * has no newlines (each doc would be one unique line), so this
    * front-end is exercised by the planted-boilerplate spec; the
    * DECLARED query uses [[segmentLineDedup]], the same rewrite over
    * this corpus's natural line analogue.
    */
  def lineDedup(docs: DataFrame, minDocs: Int = 2): DataFrame = {
    val lines = docs
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), "\n")).as(Seq("line_idx", "line")))
    lineDedupCore(lines, minDocs, "\n")
  }

  /** t27 — the declared boilerplate rewrite: "lines" are consecutive
    * `segWords`-word segments (NON-overlapping, unlike t15's sliding
    * spans — a line partitions the document, so removal is a rewrite,
    * not just a flag). Pure narrow generator feeding [[lineDedupCore]];
    * the only shuffles are the line-hash df-cut and the per-doc
    * regroup. Fully oracled: DuckDB recomputes the identical partition,
    * cut, and cleaned-text md5.
    */
  def segmentLineDedup(s: SparkSession, d: String, segWords: Int = 5,
      minDocs: Int = 2): DataFrame =
    lineDedupCore(segLines(s, d, segWords), minDocs, " ")

  /** One (doc_id, source, line_idx, line) row per consecutive
    * non-overlapping `segWords`-word segment — t27's line analogue for
    * the newline-free corpus, shared with p13's clean stage. Tokens are
    * bound via a one-element outer transform (the shingles discipline):
    * a bare `w` column survives as an attribute only until
    * CollapseProject inlines it into the lambda — then the doc would
    * re-tokenize once per segment.
    */
  private[graft] def segLines(s: SparkSession, d: String,
      segWords: Int): DataFrame = {
    val segs = element_at(
      transform(array(tokens(col("text"))), w =>
        when(size(w) > 0,
          transform(
            sequence(lit(0L),
              ceil(size(w) / lit(segWords.toDouble)).cast("long") - 1),
            i => struct(i.as("line_idx"),
              array_join(slice(w, (i * segWords + 1).cast("int"),
                lit(segWords)), " ").as("line"))))
          .otherwise(array())),
      1)
    documents(s, d)
      .select(col("doc_id"), col("source"), explode(segs).as("p"))
      .select(col("doc_id"), col("source"), col("p.line_idx"), col("p.line"))
  }

  // ------------------------------------------------------------------
  // t29 — ExactSubstr duplicated-span REMOVAL (Lee et al. 2022 — the
  // rewrite half of t15's detection): every token covered by a w-token
  // sliding window whose fingerprint occurs in MORE THAN ONE document
  // is cut out, and the stitched document re-emitted with removed
  // span/token/char accounting plus the cleaned-text md5.
  // ------------------------------------------------------------------

  /** Scale shape: detection is t15's inverted index verbatim (span
    * fingerprints → groupBy → `count(DISTINCT doc)>1` cut BEFORE the
    * join-back, so the semi-join's build side is the duplicated tail
    * only). The covered-token set explodes each duplicated start into
    * its w token indexes — rows ∝ duplicated content × w, never the
    * corpus — and is DISTINCT'd so overlapping spans mark each token
    * once. Reassembly is t27's discipline: one per-doc aggregation
    * collecting kept (index, token) pairs, sorted by index — order
    * restored by data, not task order. The only corpus-sized shuffles
    * are the span-index groupBy and the per-doc regroup; at 100 TB the
    * md5 fingerprints become xxhash64 (kept md5 here for cross-engine
    * oracle parity, t15's analysis of the collision odds).
    */
  private[graft] def dupSpanRemovalCore(docs: DataFrame, w: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      tokens(col("text")).as("t"))
    val tok = toks
      .select(col("doc_id"), col("source"),
        posexplode(col("t")).as(Seq("i0", "tok")))
      .select(col("doc_id"), col("source"),
        (col("i0") + 1).cast("long").as("ti"), col("tok"))
    val spans = toks.filter(size(col("t")) >= w)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("t")) - (w - 1)),
          i => md5(array_join(slice(col("t"), i, lit(w)), " "))))
          .as(Seq("s0", "h")))
      .select(col("doc_id"), (col("s0") + 1).cast("long").as("si"), col("h"))
    val dupHashes = spans.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1).select("h")
    val dupStarts = spans.join(dupHashes, Seq("h"), "left_semi")
    val covered = dupStarts
      .select(col("doc_id"),
        explode(sequence(col("si"), col("si") + (w - 1))).as("ti"))
      .distinct()
      .withColumn("rm", lit(true))
    val nsp = dupStarts.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"))
    tok.join(covered, Seq("doc_id", "ti"), "left")
      .withColumn("rm", coalesce(col("rm"), lit(false)))
      .groupBy("doc_id", "source")
      .agg(
        count(lit(1)).as("n_tok"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed_tok"),
        sum(when(col("rm"), length(col("tok")).cast("long")).otherwise(0L))
          .as("removed_chars"),
        md5(array_join(transform(array_sort(collect_list(
          when(!col("rm"), struct(col("ti"), col("tok"))))),
          x => x.getField("tok")), " ")).as("clean_md5"))
      .join(nsp, Seq("doc_id"), "left")
      .withColumn("n_dup_spans", coalesce(col("n_dup_spans"), lit(0L)))
      .select("doc_id", "source", "n_tok", "n_dup_spans", "n_removed_tok",
        "removed_chars", "clean_md5")
      .orderBy("doc_id")
  }

  /** t29 — the declared rewrite at t15's window (16 tokens): the corpus
    * genuinely contains cross-doc duplicated runs at this width (45 docs
    * at sf0.01), so the cut has real bite on the declared data; fully
    * oracled including the stitched-text md5.
    */
  def dupSpanRemoval(s: SparkSession, d: String, w: Int = 16): DataFrame =
    dupSpanRemovalCore(
      documents(s, d).select("doc_id", "source", "text"), w)

  // ------------------------------------------------------------------
  // t30 — INTRA-document repetition removal (the rewrite half of the
  // Gopher repetition rules t7 only scores): within ONE document, drop
  // every repeated non-overlapping segment after its first occurrence.
  // ------------------------------------------------------------------

  /** Array of consecutive non-overlapping `segWords`-word segment texts
    * (t27's partition of the document) as one narrow expression; the
    * token array is bound via the one-element outer transform so
    * CollapseProject cannot inline a re-tokenize per segment.
    */
  private def segmentTexts(segWords: Int): Column =
    element_at(
      transform(array(tokens(col("text"))), w =>
        when(size(w) > 0,
          transform(
            sequence(lit(0L),
              ceil(size(w) / lit(segWords.toDouble)).cast("long") - 1),
            i => array_join(slice(w, (i * segWords + 1).cast("int"),
              lit(segWords)), " ")))
          .otherwise(array())),
      1)

  /** Core rewrite, exposing the cleaned TEXT so the spec can feed it
    * back through t7's scorer. keep(i) ⇔ `array_position` — the FIRST
    * index of that segment text — equals i: exact within-doc segment
    * dedup as a single codegen'd per-row expression. No shuffle at all:
    * the whole operator is a narrow projection, so at 100 TB it runs at
    * scan speed (the per-row cost is O(segments²) in the worst
    * all-distinct case — bounded by document length, not data volume).
    */
  private[graft] def intraDocClean(docs: DataFrame, segWords: Int): DataFrame = {
    val r = element_at(transform(array(segmentTexts(segWords)), sg =>
      element_at(transform(array(filter(sequence(lit(1), size(sg)),
          i => array_position(sg, element_at(sg, i)) === i.cast("long"))), ki =>
        struct(
          size(sg).cast("long").as("n_segs"),
          size(ki).cast("long").as("n_kept"),
          (size(sg) - size(ki)).cast("long").as("n_removed"),
          (aggregate(sg, lit(0L), (a, x) => a + length(x).cast("long")) -
            aggregate(transform(ki, i => element_at(sg, i)), lit(0L),
              (a, x) => a + length(x).cast("long"))).as("removed_chars"),
          array_join(transform(ki, i => element_at(sg, i)), " ")
            .as("clean"))), 1)), 1)
    docs.select(col("doc_id"), col("source"), r.as("r"))
      .select(col("doc_id"), col("source"), col("r.n_segs"), col("r.n_kept"),
        col("r.n_removed"), col("r.removed_chars"), col("r.clean"))
  }

  /** t30 — the declared query at segWords=2, the width this corpus
    * genuinely repeats at (181 docs with intra-doc repeated 2-word
    * segments at sf0.01; wider paragraphs are exercised by the planted
    * spec). Fully oracled — exact segment dedup is deterministic, so
    * DuckDB recomputes the identical keep set and stitched md5.
    */
  def intraDocDedup(s: SparkSession, d: String, segWords: Int = 2): DataFrame =
    intraDocClean(documents(s, d).select("doc_id", "source", "text"), segWords)
      .select(col("doc_id"), col("source"), col("n_segs"), col("n_kept"),
        col("n_removed"), col("removed_chars"), md5(col("clean")).as("clean_md5"))
      .orderBy("doc_id")

  // ------------------------------------------------------------------
  // t34 — HTML boilerplate extraction (the jusText/trafilatura
  // archetype): the step between a WARC response record and every
  // declared t-query — strip markup, segment into block-level elements,
  // keep blocks by word-count + link-density rules. One narrow per-row
  // transform, zero shuffle: at 100 TB it runs at scan speed like
  // t28/t30, and composes in front of p13 as the clean stage for
  // markup docs (t27 then removes the cross-doc repeats block rules
  // can't see).
  // ------------------------------------------------------------------

  private[graft] val t34ChunkWords = 8       // fixture <p> block size
  private[graft] val t34MinWords = 6         // jusText-style short-block cut
  private[graft] val t34MaxLinkDensity = 0.3 // navigation/link-list cut

  /** Deterministic HTML fixture: wrap a document in the markup a crawl
    * actually serves — head (title/style/script), a link-dense nav bar,
    * the text as 8-word `<p>` blocks, an inline body script, a
    * "related links" block reusing the doc's first words as anchor
    * text, and a short footer. Pure function of (doc_id, text), so the
    * oracle reasons about every block without parsing HTML: the plants
    * all fail the keep rules, full content chunks all pass, and the
    * tail chunk passes iff it has ≥ 6 words — kept text is therefore
    * exactly a computable token PREFIX of the original document.
    */
  private[graft] def buildHtml(docId: Long, text: String): String = {
    val toks = text.split(" ")
    val ps = toks.grouped(t34ChunkWords)
      .map(c => s"<p>${c.mkString(" ")}</p>").mkString("\n")
    val w0 = toks.head
    val w1 = toks(math.min(1, toks.length - 1))
    s"""<html><head><title>Doc $docId</title><style>body{margin:0}</style>""" +
      s"""<script>var a=$docId;</script></head>\n<body>\n""" +
      """<div class="nav"><a href="/">Home</a> <a href="/about">About</a> """ +
      """<a href="/contact">Contact</a></div>""" + "\n" + ps + "\n" +
      s"""<script>track($docId);</script>\n""" +
      s"""<div class="related">Related: <a href="/r/1">$w0</a> """ +
      s"""<a href="/r/2">$w1</a></div>""" + "\n" +
      """<div class="footer">Copyright 2024 crawl.test</div>""" +
      "\n</body></html>"
  }

  /** The extraction rule: drop `<head>` and every script/style element,
    * segment the body into `<p>`/`<div>` blocks, and keep a block iff
    * it has ≥ [[t34MinWords]] words AND ≤ [[t34MaxLinkDensity]] of its
    * visible characters sit inside anchors — the two-signal density
    * heuristic (jusText, Pomikálek 2011) that separates running text
    * from navigation/footer chrome. Returns
    * (n_blocks, kept_blocks, kept_words, cleaned_text).
    */
  private[graft] def extractMainText(html: String): (Long, Long, Long, String) = {
    val body = html
      .replaceAll("(?s)<head>.*?</head>", " ")
      .replaceAll("(?s)<script[^>]*>.*?</script>", " ")
      .replaceAll("(?s)<style[^>]*>.*?</style>", " ")
    val blockRe = "(?s)<(p|div)[^>]*>(.*?)</\\1>".r
    val anchorRe = "(?s)<a[^>]*>(.*?)</a>".r
    val blocks = blockRe.findAllMatchIn(body).map(_.group(2)).toList
    val kept = blocks.filter { b =>
      val linkChars = anchorRe.findAllMatchIn(b).map(_.group(1).length).sum
      val plain = b.replaceAll("<[^>]+>", " ").replaceAll(" +", " ").trim
      val words = if (plain.isEmpty) 0 else plain.split(" ").length
      val density = if (plain.isEmpty) 1.0 else linkChars.toDouble / plain.length
      words >= t34MinWords && density <= t34MaxLinkDensity
    }.map(_.replaceAll("<[^>]+>", " ").replaceAll(" +", " ").trim)
    val cleaned = kept.mkString(" ")
    val keptWords = if (cleaned.isEmpty) 0L else cleaned.split(" ").length.toLong
    (blocks.length.toLong, kept.length.toLong, keptWords, cleaned)
  }

  /** t34 — per-doc extraction report over the planted-HTML fixture:
    * block counts, kept words, and the md5 of the extracted text. Fully
    * oracled — the fixture rules make the kept text a token prefix the
    * oracle recomputes straight from `documents.text`, so agreement
    * proves markup stripping, block segmentation, and both density
    * rules end-to-end (m2's fixture-formula discipline applied to HTML).
    */
  def htmlBoilerplateExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select("doc_id", "source", "text")
      .as[(Long, String, String)]
      .map { case (id, src, text) =>
        val (nb, kb, kw, cleaned) = extractMainText(buildHtml(id, text))
        (id, src, nb, kb, kw, cleaned)
      }
      .toDF("doc_id", "source", "n_blocks", "kept_blocks", "n_words_kept",
        "cleaned")
      .select(col("doc_id"), col("source"), col("n_blocks"),
        col("kept_blocks"), col("n_words_kept"),
        md5(col("cleaned")).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // t28 — model-based quality filter (the DCLM/FineWeb-Edu archetype):
  // a fastText-shaped LINEAR classifier over hashed token-bigram
  // features. The weight vector is fixed and seeded — the point is the
  // SCORING ENGINE (hash features, look up weights, fold, threshold),
  // which with fixed weights is a deterministic integer dot product and
  // therefore fully DuckDB-oracle-able, unlike a trained model.
  // ------------------------------------------------------------------

  private[graft] val t28Dim = 256
  /** Integer micro-unit weights in [-1e6, 1e6]: integer sums are exact
    * and order-independent, so the fold's result is bit-identical
    * across engines regardless of evaluation order — the ts7 discipline
    * applied to a dot product.
    */
  private[graft] val t28WeightsU: Seq[Long] = {
    val r = new scala.util.Random(8113L)
    Seq.fill(t28Dim)((r.nextInt(2000001) - 1000000).toLong)
  }

  /** Feature index of a bigram: first two hex chars of md5 → 0..255.
    * md5 is the one hash both engines share (the p6 discipline); Spark
    * parses the hex pair with conv(), DuckDB with strpos arithmetic —
    * same integer either way.
    */
  private def t28Idx(g: Column): Column =
    conv(substring(md5(g), 1, 2), 16, 10).cast("int")

  /** Per-doc scores: n_grams, integer score_u = Σ w[h(bigram)], the
    * sigmoid probability, and the keep flag (score_u >= 0 ⇔ prob >= ½ —
    * the threshold compares EXACT integers, never floats). The whole
    * scorer is one narrow codegen'd fold per row — no explode, no
    * shuffle; at 100 TB it runs at scan speed.
    */
  /** The t28 integer score as a reusable expression over any text
    * column: Σ w[h(bigram)] in exact micro-units, one narrow codegen'd
    * fold per row. Docs with fewer than two tokens score 0 (the guard
    * also dodges Spark's descending `sequence(1, 0)`). The tokens array
    * is BOUND to a lambda variable via a one-element outer transform
    * (the shingles discipline): referencing split(text) inside the fold
    * would re-tokenize the document twice per bigram — O(tokens²)/row.
    */
  private[graft] def t28ScoreU(textCol: Column): Column = {
    val wLit = typedlit(t28WeightsU)
    element_at(
      transform(array(tokens(textCol)), w =>
        when(size(w) >= 2,
          aggregate(
            transform(sequence(lit(1), size(w) - 1),
              i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))),
            lit(0L),
            (acc, g) => acc + element_at(wLit, t28Idx(g) + 1)))
          .otherwise(lit(0L))),
      1)
  }

  private[graft] def modelDocScores(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    documents(s, d)
      .filter(size(t) >= 2)
      .select(col("doc_id"), col("source"),
        (size(t) - 1).cast("long").as("n_grams"),
        t28ScoreU(col("text")).as("score_u"))
      .withColumn("prob",
        round(lit(1.0) / (lit(1.0) +
          exp(-col("score_u").cast("double") /
            (col("n_grams").cast("double") * 1e6))), 6))
      .withColumn("keep", (col("score_u") >= 0).cast("int"))
  }

  /** t28 — the per-source keep-rate report over [[modelDocScores]]:
    * docs, kept docs, keep rate, and the exact integer score mass.
    * Everything except the one keep-rate division is exact integer
    * aggregation, so the oracle hash-matches structurally.
    */
  def modelQualityReport(s: SparkSession, d: String): DataFrame =
    modelDocScores(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("keep").as("n_keep"),
        round(sum("keep") / count(lit(1)), 6).as("keep_rate"),
        sum("score_u").as("score_u_sum"))
      .orderBy("source")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("t34_html_extract", (s, d) => htmlBoilerplateExtract(s, d), Some(
      // plants (nav/related/footer) all fail the keep rules and the
      // content chunks are 8-word groups, so: blocks = ceil(nw/8) + 3,
      // kept = full chunks (+ the tail iff ≥ 6 words), and the kept
      // text is exactly that token prefix of the document
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS nw
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source, toks,
        |    CAST(ceil(nw / 8.0) AS BIGINT) + 3 AS n_blocks,
        |    CAST(nw // 8 + CASE WHEN nw % 8 >= 6 THEN 1 ELSE 0 END AS BIGINT)
        |      AS kept_blocks,
        |    CAST((nw - nw % 8)
        |      + CASE WHEN nw % 8 >= 6 THEN nw % 8 ELSE 0 END AS BIGINT)
        |      AS keep_words
        |  FROM t)
        |SELECT doc_id, source, n_blocks, kept_blocks,
        |  keep_words AS n_words_kept,
        |  md5(array_to_string(list_slice(toks, 1, keep_words), ' '))
        |    AS cleaned_md5
        |FROM k ORDER BY doc_id""".stripMargin)),
    QueryDef("t27_line_dedup", (s, d) => segmentLineDedup(s, d), Some(
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |lines AS (
        |  SELECT doc_id, source, i AS line_idx,
        |    array_to_string(w[1 + i*5 : 5 + i*5], ' ') AS line
        |  FROM t, unnest(range(0, CAST(ceil(len(w) / 5.0) AS BIGINT))) r(i)),
        |df AS (
        |  SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY line),
        |marked AS (
        |  SELECT l.doc_id, l.source, l.line_idx, l.line, (df.nd > 2) AS bp
        |  FROM lines l JOIN df USING (line)),
        |kept AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(line, ' ' ORDER BY line_idx), '') AS clean
        |  FROM marked WHERE NOT bp GROUP BY doc_id)
        |SELECT m.doc_id, m.source,
        |  count(*) AS n_lines,
        |  CAST(sum(CASE WHEN bp THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN bp THEN length(line) ELSE 0 END) AS BIGINT)
        |    AS removed_chars,
        |  md5(coalesce(max(k.clean), '')) AS clean_md5
        |FROM marked m LEFT JOIN kept k ON m.doc_id = k.doc_id
        |GROUP BY m.doc_id, m.source ORDER BY m.doc_id""".stripMargin)),
    QueryDef("t29_span_removal", (s, d) => dupSpanRemoval(s, d), Some(
      """WITH toks AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |tok AS (
        |  SELECT doc_id, source, i AS ti, t[i] AS tok
        |  FROM toks, unnest(generate_series(1, len(t))) r(i)),
        |sp AS (
        |  SELECT doc_id, i AS si, md5(array_to_string(t[i:i+15], ' ')) AS h
        |  FROM toks, unnest(generate_series(1, len(t) - 15)) r(i)),
        |dup AS (SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) > 1),
        |ds AS (SELECT doc_id, si FROM sp WHERE h IN (SELECT h FROM dup)),
        |cov AS (
        |  SELECT DISTINCT doc_id, si + k AS ti
        |  FROM ds, unnest(generate_series(0, 15)) r(k)),
        |m AS (
        |  SELECT tok.doc_id, tok.source, tok.ti, tok.tok,
        |    (cov.ti IS NOT NULL) AS rm
        |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.ti = cov.ti),
        |nsp AS (SELECT doc_id, count(*) AS n_dup_spans FROM ds GROUP BY 1),
        |kept AS (
        |  SELECT doc_id, coalesce(string_agg(tok, ' ' ORDER BY ti), '') AS clean
        |  FROM m WHERE NOT rm GROUP BY doc_id)
        |SELECT m.doc_id, m.source,
        |  count(*) AS n_tok,
        |  CAST(coalesce(max(nsp.n_dup_spans), 0) AS BIGINT) AS n_dup_spans,
        |  CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_tok,
        |  CAST(sum(CASE WHEN rm THEN length(tok) ELSE 0 END) AS BIGINT)
        |    AS removed_chars,
        |  md5(coalesce(max(kept.clean), '')) AS clean_md5
        |FROM m LEFT JOIN nsp ON m.doc_id = nsp.doc_id
        |  LEFT JOIN kept ON m.doc_id = kept.doc_id
        |GROUP BY m.doc_id, m.source ORDER BY m.doc_id""".stripMargin)),
    QueryDef("t30_intradoc_dedup", (s, d) => intraDocDedup(s, d), Some(
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |s AS (
        |  SELECT doc_id, source,
        |    list_transform(range(0, CAST(ceil(len(w) / 2.0) AS BIGINT)),
        |      i -> array_to_string(w[1 + i*2 : 2 + i*2], ' ')) AS sg
        |  FROM t),
        |k AS (
        |  SELECT doc_id, source, sg,
        |    list_filter(range(1, len(sg) + 1),
        |      i -> list_position(sg, sg[i]) = i) AS ki
        |  FROM s)
        |SELECT doc_id, source,
        |  CAST(len(sg) AS BIGINT) AS n_segs,
        |  CAST(len(ki) AS BIGINT) AS n_kept,
        |  CAST(len(sg) - len(ki) AS BIGINT) AS n_removed,
        |  CAST(coalesce(list_sum(list_transform(sg, x -> length(x))), 0)
        |    - coalesce(list_sum(list_transform(ki, i -> length(sg[i]))), 0)
        |    AS BIGINT) AS removed_chars,
        |  md5(array_to_string(list_transform(ki, i -> sg[i]), ' '))
        |    AS clean_md5
        |FROM k ORDER BY doc_id""".stripMargin)),
    QueryDef("p22_crawl_corpus", (s, d) => crawlCorpusBuild(s, d), Some {
      val wlist = t28WeightsU.mkString("[", ",", "]")
      // src20's fixture rule (doc_id % 97 == 13 → quarantined) selects
      // the parsed set; dedup + the t28 integer scorer replay exactly
      s"""WITH parsed AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id % 97 <> 13),
        |flags AS (
        |  SELECT source, toks,
        |    (row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)
        |      AS dk,
        |    (CAST(coalesce(list_sum(list_transform(range(1, len(w)), i ->
        |      (${wlist}::BIGINT[])[
        |        (strpos('0123456789abcdef',
        |           substr(md5(w[i] || ' ' || w[i+1]), 1, 1)) - 1) * 16
        |        + strpos('0123456789abcdef',
        |           substr(md5(w[i] || ' ' || w[i+1]), 2, 1))])), 0)
        |      AS BIGINT) >= 0) AS qk
        |  FROM parsed)
        |SELECT source,
        |  count(*) AS n_parsed,
        |  CAST(sum(toks) AS BIGINT) AS tok_parsed,
        |  CAST(sum(CASE WHEN dk THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
        |  CAST(sum(CASE WHEN dk THEN toks ELSE 0 END) AS BIGINT) AS tok_dedup,
        |  CAST(sum(CASE WHEN dk AND qk THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quality,
        |  CAST(sum(CASE WHEN dk AND qk THEN toks ELSE 0 END) AS BIGINT)
        |    AS tok_quality
        |FROM flags GROUP BY source ORDER BY source""".stripMargin
    }),
    QueryDef("t28_model_quality", (s, d) => modelQualityReport(s, d), Some {
      val wlist = t28WeightsU.mkString("[", ",", "]")
      s"""WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, source, len(w) - 1 AS n_grams,
        |    CAST(list_sum(list_transform(range(1, len(w)), i ->
        |      (${wlist}::BIGINT[])[
        |        (strpos('0123456789abcdef',
        |           substr(md5(w[i] || ' ' || w[i+1]), 1, 1)) - 1) * 16
        |        + strpos('0123456789abcdef',
        |           substr(md5(w[i] || ' ' || w[i+1]), 2, 1))]))
        |      AS BIGINT) AS score_u
        |  FROM t WHERE len(w) >= 2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN score_u >= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_keep,
        |  round(sum(CASE WHEN score_u >= 0 THEN 1 ELSE 0 END) * 1.0
        |    / count(*), 6) AS keep_rate,
        |  CAST(sum(score_u) AS BIGINT) AS score_u_sum
        |FROM g GROUP BY source ORDER BY source""".stripMargin
    }),
    QueryDef("t23_gopher_filter", gopherFilterReport, Some(
      """WITH t AS (
        |  SELECT source, string_split(text, ' ') AS w FROM documents),
        |m AS (
        |  SELECT source,
        |    CAST(len(w) AS BIGINT) AS n,
        |    CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum')
        |      AS BIGINT) AS chars,
        |    CAST(len(list_filter(w,
        |      x -> regexp_full_match(x, '[A-Za-z]+'))) AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(w, x -> lower(x) IN
        |      ('the','and','of','to','a','in','is','that')))
        |      AS BIGINT) AS n_stop
        |  FROM t),
        |r AS (
        |  SELECT source,
        |    (n BETWEEN 10 AND 100000) AS r_len,
        |    (chars >= n * 2 AND chars <= n * 10) AS r_wordlen,
        |    (n_alpha * 5 >= n * 4) AS r_alpha,
        |    (n_stop * 50 >= n) AS r_stop
        |  FROM m)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN NOT r_len THEN 1 ELSE 0 END) AS BIGINT) AS viol_len,
        |  CAST(sum(CASE WHEN NOT r_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS viol_wordlen,
        |  CAST(sum(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS viol_alpha,
        |  CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS viol_stop,
        |  CAST(sum(CASE WHEN r_len AND r_wordlen AND r_alpha AND r_stop
        |    THEN 1 ELSE 0 END) AS BIGINT) AS kept
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),
    // rows-only: cluster membership comes from sample-fit KMeans
    // centroids (no SQL twin); cap/purity/determinism spec-pinned
    QueryDef("p10_cluster_balanced_mix",
      (s, d) => clusterBalancedMix(s, d), None),
    // rows-only: the sequential merge loop has no SQL twin; in-memory
    // reference parity + determinism pinned in the spec
    // BPE is a deterministic greedy, so DuckDB REPLAYS it exactly
    // (p7's flip is the template): see bpeReplayCtes
    QueryDef("t38_wordpiece_merges", (s, d) => wordpieceMerges(s, d), Some(
      // the full WordPiece replay: same ##-prefixed init, same
      // likelihood argmax — decided by the HUGEINT 2⁹⁰-scaled key whose
      // floor orders exactly like the rationals (see the operator's
      // gap argument) — same tie-break, same left-to-right merge
      s"""$wordpieceReplayCtes
        |SELECT DISTINCT step, ml AS "left", mr AS "right",
        |  mpc AS pair_count, mcl AS left_count, mcr AS right_count
        |FROM t WHERE step >= 1 ORDER BY step""".stripMargin)),
    QueryDef("t39_wordpiece_encode", (s, d) => wordpieceEncode(s, d), Some(
      // MaxMatch replayed as a recursive CTE: the piece inventory
      // derives from the replayed merges (same closure rule as the
      // operator — both position classes of every corpus char + merge
      // outputs), and each (word, pos) step jumps past the longest
      // matching piece of the right class
      s"""$wordpieceReplayCtes,
        |alpha AS (
        |  SELECT DISTINCT unnest(string_split(w, '')) AS c FROM vocab),
        |pieces AS (
        |  SELECT c AS raw, FALSE AS cont FROM alpha
        |  UNION
        |  SELECT c AS raw, TRUE AS cont FROM alpha
        |  UNION
        |  SELECT regexp_replace(ml, '^##', '')
        |      || regexp_replace(mr, '^##', '') AS raw,
        |    ml LIKE '##%' AS cont
        |  FROM (SELECT DISTINCT ml, mr FROM t WHERE step >= 1)),
        |seg AS (
        |  SELECT w, 1 AS pos, CAST(0 AS BIGINT) AS units
        |  FROM (SELECT DISTINCT w FROM vocab)
        |  UNION ALL
        |  SELECT w, pos + ml, units + 1 FROM (
        |    SELECT w, pos, units,
        |      (SELECT max(len(p.raw)) FROM pieces p
        |       WHERE p.cont = (seg.pos > 1)
        |         AND substr(seg.w, seg.pos, len(p.raw)) = p.raw) AS ml
        |    FROM seg WHERE pos <= len(w))),
        |nunits AS (
        |  SELECT w, max(units) AS n_units, len(w)::BIGINT AS n_chars
        |  FROM seg WHERE pos > len(w) GROUP BY w, len(w)),
        |pdw AS (
        |  SELECT doc_id, w, count(*)::BIGINT AS c FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE len(w) > 0 GROUP BY doc_id, w)
        |SELECT p.doc_id, sum(p.c)::BIGINT AS n_words,
        |  sum(p.c * f.n_units)::BIGINT AS n_wp_units,
        |  round(CAST(sum(p.c * f.n_chars) AS DOUBLE)
        |    / sum(p.c * f.n_units), 4) AS chars_per_unit
        |FROM pdw p JOIN nunits f ON p.w = f.w
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin)),
    QueryDef("t40_unigram_train", (s, d) => unigramTrain(s, d), Some(
      // the full unigram-LM replay: seed inventory, initial probs,
      // Viterbi E-step, Laplace M-step, mass prune, second E/M round —
      // 6 dp rounding at every log and every DP cell on both engines
      s"""$unigramReplayCtes
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, piece) AS BIGINT)
        |    AS rank, piece, n, logp
        |FROM ufinal ORDER BY rank""".stripMargin)),
    QueryDef("t41_unigram_encode", (s, d) => unigramEncode(s, d), Some(
      // Viterbi encode with the replayed final model: a third lattice
      // over the word inventory, then the per-doc join-back rollup
      s"""$unigramReplayCtes,
        |${unigramVitCte("uvit3", "ufinal")},
        |uunits AS (
        |  SELECT w, CAST(len(dp[len(w) + 1].seg) AS BIGINT) AS n_units,
        |         CAST(len(w) AS BIGINT) AS n_chars
        |  FROM uvit3 WHERE pos = len(w)),
        |updw AS (
        |  SELECT doc_id, w, count(*)::BIGINT AS c FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE len(w) > 0 GROUP BY doc_id, w)
        |SELECT p.doc_id, sum(p.c)::BIGINT AS n_words,
        |  sum(p.c * f.n_units)::BIGINT AS n_units_total,
        |  round(CAST(sum(p.c * f.n_chars) AS DOUBLE)
        |    / sum(p.c * f.n_units), 4) AS chars_per_unit
        |FROM updw p JOIN uunits f ON p.w = f.w
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin)),
    QueryDef("t22_bpe_merges", (s, d) => bpeMerges(s, d), Some(
      s"""$bpeReplayCtes
        |SELECT DISTINCT step, ml AS "left", mr AS "right", mpc AS pair_count
        |FROM t WHERE step >= 1 ORDER BY step""".stripMargin)),
    QueryDef("t25_bpe_encode", (s, d) => bpeEncode(s, d), Some(
      s"""$bpeReplayCtes,
        |$bpeEncodeCtes
        |SELECT p.doc_id, sum(p.c)::BIGINT AS n_words,
        |  sum(p.c * f.n_units)::BIGINT AS n_bpe_tokens,
        |  round(CAST(sum(p.c * f.n_chars) AS DOUBLE)
        |    / sum(p.c * f.n_units), 4) AS chars_per_unit
        |FROM pdw p JOIN final f ON p.w = f.wid
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin)),
    QueryDef("t32_tokenizer_fertility", (s, d) => tokenizerFertility(s, d), Some(
      s"""$bpeReplayCtes,
        |$bpeEncodeCtes,
        |enc AS (
        |  SELECT p.doc_id, sum(p.c)::BIGINT AS n_words,
        |    sum(p.c * f.n_units)::BIGINT AS n_bpe_tokens
        |  FROM pdw p JOIN final f ON p.w = f.wid GROUP BY p.doc_id)
        |SELECT d.lang, count(*)::BIGINT AS n_docs,
        |  sum(e.n_words)::BIGINT AS n_words,
        |  sum(e.n_bpe_tokens)::BIGINT AS n_units,
        |  round(CAST(sum(e.n_bpe_tokens) AS DOUBLE)
        |    / CAST(sum(e.n_words) AS DOUBLE), 4) AS fertility
        |FROM enc e JOIN documents d ON e.doc_id = d.doc_id
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin)),
    QueryDef("t33_blocklist_filter", (s, d) => blocklistFilter(s, d), Some(
      """WITH f AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> list_contains(['slow', 'error', 'crash'], t))) AS BIGINT)
        |      AS n_blocked
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_blocked > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  CAST(sum(n_blocked) AS BIGINT) AS n_blocked_tokens,
        |  round(1.0 - CAST(sum(CASE WHEN n_blocked > 0 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*), 6) AS keep_rate
        |FROM f GROUP BY source ORDER BY source""".stripMargin)),
    QueryDef("p19_pack_manifest", (s, d) => packedManifest(s, d), Some(
      // DuckDB replays p2's window and digests the identical ordered
      // boundary list; a digest match proves the mask layout
      """WITH docs AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM docs),
        |p AS (
        |  SELECT lang, doc_id, n_tokens, cum,
        |    CAST(floor((cum - n_tokens) / 8192.0) AS BIGINT) AS seq_id,
        |    CAST(cum - n_tokens
        |      - CAST(floor((cum - n_tokens) / 8192.0) AS BIGINT) * 8192
        |      AS BIGINT) AS off
        |  FROM c)
        |SELECT lang, seq_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tok,
        |  CAST(max(cum) - seq_id * 8192 AS BIGINT) AS fill,
        |  md5(string_agg(doc_id || ':' || off, '|' ORDER BY doc_id))
        |    AS boundaries_md5
        |FROM p GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin)),
    QueryDef("t26_dsir_weights", (s, d) => dsirWeights(s, d), Some(
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |src AS (SELECT w, count(*) AS cs FROM tok GROUP BY 1),
        |tgt AS (SELECT w, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT CAST(sum(cs) AS BIGINT) AS ns, count(*) AS v FROM src),
        |ttot AS (SELECT count(*) AS nt FROM tok WHERE lang = 'en'),
        |sc AS (
        |  SELECT doc_id,
        |    ln((coalesce(ct, 0) + 1) / CAST(nt + v AS DOUBLE))
        |      - ln((cs + 1) / CAST(ns + v AS DOUBLE)) AS llr
        |  FROM tok JOIN src USING (w) LEFT JOIN tgt USING (w)
        |  CROSS JOIN tot CROSS JOIN ttot)
        |SELECT doc_id, count(*) AS n_tok,
        |  round(avg(llr), 6) AS mean_log_ratio
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("p4_weighted_sample", qualityWeightedSample, Some(
      """WITH q AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN (CAST(length(text) AS DOUBLE)
        |                - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1))
        |               / CAST(len(string_split(text, ' ')) AS DOUBLE)
        |               BETWEEN 2.0::DOUBLE AND 12.0::DOUBLE
        |          THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END)
        |    + least(CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 3.0::DOUBLE,
        |        0.4::DOUBLE)
        |    + (CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
        |                 / CAST(length(text) AS DOUBLE) < 0.2::DOUBLE
        |          THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END) AS q,
        |    CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE)
        |      / 4294967296.0::DOUBLE AS u
        |  FROM documents)
        |SELECT doc_id, source, round(q, 6) AS quality, round(u, 6) AS u
        |FROM q WHERE u < 0.2::DOUBLE + 0.6::DOUBLE * q
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("p17_shard_manifest", shardManifest, Some(
      """WITH t AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hk, md5(text) AS cmd5,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, hk, cmd5, n_tokens, substr(hk, 1, 2) AS shard,
        |    row_number() OVER (PARTITION BY substr(hk, 1, 2)
        |      ORDER BY hk, doc_id) AS pos
        |  FROM t)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  md5(string_agg(cmd5, '|' ORDER BY pos)) AS manifest_md5
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin)),
    QueryDef("p16_incremental_ingest", (s, d) => incrementalIngest(s, d), Some(
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |lines AS (
        |  SELECT doc_id, source, doc_id % 5 = 4 AS is_batch, i AS line_idx,
        |    array_to_string(w[1 + i*5 : 5 + i*5], ' ') AS line
        |  FROM t, unnest(range(0, CAST(ceil(len(w) / 5.0) AS BIGINT))) r(i)),
        |bp AS (
        |  SELECT line FROM lines WHERE NOT is_batch
        |  GROUP BY line HAVING count(DISTINCT doc_id) > 2),
        |marked AS (
        |  SELECT l.doc_id, l.source, l.is_batch, l.line_idx, l.line,
        |    l.line IN (SELECT line FROM bp) AS bp
        |  FROM lines l),
        |keptxt AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(line, ' ' ORDER BY line_idx), '') AS clean
        |  FROM marked WHERE NOT bp GROUP BY doc_id),
        |clean AS (
        |  SELECT m.doc_id, m.source, m.is_batch,
        |    md5(coalesce(max(k.clean), '')) AS clean_md5,
        |    CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_lines,
        |    CAST(sum(CASE WHEN bp THEN 0
        |      ELSE len(string_split(line, ' ')) END) AS BIGINT) AS clean_toks
        |  FROM marked m LEFT JOIN keptxt k ON m.doc_id = k.doc_id
        |  GROUP BY m.doc_id, m.source, m.is_batch),
        |corpus_md5 AS (
        |  SELECT DISTINCT clean_md5 FROM clean WHERE NOT is_batch),
        |bstat AS (
        |  SELECT doc_id, source, clean_toks, n_removed_lines,
        |    clean_md5 IN (SELECT clean_md5 FROM corpus_md5) AS dup_corpus,
        |    min(doc_id) OVER (PARTITION BY clean_md5) AS keeper
        |  FROM clean WHERE is_batch)
        |SELECT source,
        |  count(*) AS n_batch,
        |  CAST(sum(CASE WHEN dup_corpus THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_corpus,
        |  CAST(sum(CASE WHEN NOT dup_corpus AND doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch,
        |  CAST(sum(CASE WHEN NOT dup_corpus AND doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN NOT dup_corpus AND doc_id = keeper THEN clean_toks ELSE 0 END) AS BIGINT) AS toks_kept,
        |  CAST(sum(n_removed_lines) AS BIGINT) AS lines_removed
        |FROM bstat GROUP BY source ORDER BY source""".stripMargin)),
    QueryDef("p15_curriculum", curriculumSchedule, Some(
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        |    CAST(length(text) AS DOUBLE) AS n_chr,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS sw,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS dg,
        |    md5(CAST(doc_id AS VARCHAR)) AS hk
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, hk,
        |    round(
        |      (CASE WHEN (n_chr - (n_tok - 1)) / n_tok BETWEEN 2.0::DOUBLE AND 12.0::DOUBLE
        |            THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END)
        |      + least(sw / n_tok * 3.0::DOUBLE, 0.4::DOUBLE)
        |      + (CASE WHEN dg / n_chr < 0.2::DOUBLE THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END), 6) AS q
        |  FROM base),
        |cuts AS (
        |  SELECT quantile_cont(q, 0.25) AS c1, quantile_cont(q, 0.5) AS c2,
        |    quantile_cont(q, 0.75) AS c3
        |  FROM q),
        |t AS (
        |  SELECT doc_id, hk, substr(hk, 1, 2) AS shard,
        |    CASE WHEN q > c3 THEN 1 WHEN q > c2 THEN 2
        |         WHEN q > c1 THEN 3 ELSE 4 END AS tier
        |  FROM q, cuts)
        |SELECT doc_id, shard, tier,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY tier, hk, doc_id) AS INT) AS cur_pos
        |FROM t ORDER BY shard, cur_pos""".stripMargin)),
    QueryDef("t37_kneser_ney", (s, d) => kneserNeyPerplexity(s, d), Some(
      // the full interpolated-KN replay: the same trigram type
      // inventory, the same continuation counts derived from it, the
      // same Ney discounts, and the probability written as the SAME
      // scalar expression — the singleton-position integer pins the
      // max(c−D,0) boundary independent of fp
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos0 AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(t) - 2),
        |      i -> struct_pack(
        |        g3 := t[i] || ' ' || t[i+1] || ' ' || t[i+2],
        |        h2 := t[i] || ' ' || t[i+1],
        |        g2 := t[i+1] || ' ' || t[i+2],
        |        w2 := t[i+1], w3 := t[i+2]))) AS p
        |  FROM toks WHERE len(t) >= 3),
        |pos AS MATERIALIZED (
        |  SELECT doc_id, p.g3 AS g3, p.h2 AS h2, p.g2 AS g2,
        |    p.w2 AS w2, p.w3 AS w3
        |  FROM pos0),
        |tri AS MATERIALIZED (
        |  SELECT g3, h2, g2, w2, w3, count(*) AS c3
        |  FROM pos GROUP BY 1, 2, 3, 4, 5),
        |hist AS MATERIALIZED (
        |  SELECT h2, CAST(sum(c3) AS BIGINT) AS ch2, count(*) AS t_h2
        |  FROM tri GROUP BY 1),
        |cont2 AS MATERIALIZED (
        |  SELECT g2, w2, w3, count(*) AS nc FROM tri GROUP BY 1, 2, 3),
        |mid AS MATERIALIZED (
        |  SELECT w2, CAST(sum(nc) AS BIGINT) AS ncdot,
        |    count(*) AS types_w2
        |  FROM cont2 GROUP BY 1),
        |uni AS MATERIALIZED (SELECT w3, count(*) AS ncw3 FROM cont2 GROUP BY 1),
        |tot AS MATERIALIZED (SELECT count(*) AS n_types FROM cont2),
        |dd3 AS MATERIALIZED (
        |  SELECT CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / (sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END)
        |       + 2 * sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END)) AS d3
        |  FROM tri),
        |dd2 AS MATERIALIZED (
        |  SELECT CAST(sum(CASE WHEN nc = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / (sum(CASE WHEN nc = 1 THEN 1 ELSE 0 END)
        |       + 2 * sum(CASE WHEN nc = 2 THEN 1 ELSE 0 END)) AS d2
        |  FROM cont2),
        |scored AS (
        |  SELECT pos.doc_id, tri.c3,
        |    ln(greatest(tri.c3 - dd3.d3, 0.0) / hist.ch2
        |      + (dd3.d3 * hist.t_h2 / hist.ch2) *
        |        (greatest(cont2.nc - dd2.d2, 0.0) / mid.ncdot
        |          + (dd2.d2 * mid.types_w2 / mid.ncdot) *
        |            (CAST(uni.ncw3 AS DOUBLE) / tot.n_types))) AS lp
        |  FROM pos
        |  JOIN tri ON pos.g3 = tri.g3
        |  JOIN hist ON tri.h2 = hist.h2
        |  JOIN cont2 ON pos.g2 = cont2.g2
        |  JOIN mid ON pos.w2 = mid.w2
        |  JOIN uni ON pos.w3 = uni.w3
        |  CROSS JOIN tot CROSS JOIN dd3 CROSS JOIN dd2)
        |SELECT doc_id, count(*) AS n_trigrams,
        |  CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_singleton_pos,
        |  round(avg(lp), 6) AS avg_logprob
        |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("t36_backoff5_perplexity", (s, d) => backoffPerplexity5(s, d), Some(
      // the 5-level stupid-backoff replay (t35's discipline one model
      // order up): same pruned tables at minCount 2, same branch
      // chain, 0.4/0.16/0.064/0.0256 as literals on both engines; the
      // four integer backoff-level counts pin every branch decision
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, p.* FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(t) - 4),
        |        i -> struct_pack(
        |          g5 := t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4],
        |          g4a := t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3],
        |          g4b := t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4],
        |          g3a := t[i+1]||' '||t[i+2]||' '||t[i+3],
        |          g3b := t[i+2]||' '||t[i+3]||' '||t[i+4],
        |          g2a := t[i+2]||' '||t[i+3],
        |          g2b := t[i+3]||' '||t[i+4],
        |          u4 := t[i+3], u5 := t[i+4]))) AS p
        |    FROM toks WHERE len(t) >= 5)),
        |c5 AS (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 4),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])) AS gr
        |  FROM toks WHERE len(t) >= 5),
        |c5t AS (SELECT gr, count(*) AS n FROM c5 GROUP BY 1
        |  HAVING count(*) >= 2),
        |c4 AS (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 3),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3])) AS gr
        |  FROM toks WHERE len(t) >= 4),
        |c4t AS (SELECT gr, count(*) AS n FROM c4 GROUP BY 1
        |  HAVING count(*) >= 2),
        |c3 AS (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS gr
        |  FROM toks WHERE len(t) >= 3),
        |c3t AS (SELECT gr, count(*) AS n FROM c3 GROUP BY 1
        |  HAVING count(*) >= 2),
        |c2 AS (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i]||' '||t[i+1])) AS gr
        |  FROM toks WHERE len(t) >= 2),
        |c2t AS (SELECT gr, count(*) AS n FROM c2 GROUP BY 1
        |  HAVING count(*) >= 2),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY 1),
        |nt AS (SELECT count(*) AS n_corpus FROM uni),
        |scored AS (
        |  SELECT g.doc_id,
        |    CASE
        |      WHEN t5.n IS NOT NULL
        |        THEN ln(CAST(t5.n AS DOUBLE) / t4a.n)
        |      WHEN t4b.n IS NOT NULL
        |        THEN ln(0.4 * CAST(t4b.n AS DOUBLE) / t3a.n)
        |      WHEN t3b.n IS NOT NULL
        |        THEN ln(0.16 * CAST(t3b.n AS DOUBLE) / t2a.n)
        |      WHEN t2b.n IS NOT NULL
        |        THEN ln(0.064 * CAST(t2b.n AS DOUBLE) / cu4.c1)
        |      ELSE ln(0.0256 * CAST(cu5.c1 AS DOUBLE) / nt.n_corpus) END
        |      AS lp,
        |    CASE WHEN t5.n IS NOT NULL THEN 1 ELSE 0 END AS h5,
        |    CASE WHEN t5.n IS NULL AND t4b.n IS NOT NULL THEN 1 ELSE 0 END
        |      AS h4,
        |    CASE WHEN t5.n IS NULL AND t4b.n IS NULL AND t3b.n IS NOT NULL
        |      THEN 1 ELSE 0 END AS h3,
        |    CASE WHEN t5.n IS NULL AND t4b.n IS NULL AND t3b.n IS NULL
        |      AND t2b.n IS NOT NULL THEN 1 ELSE 0 END AS h2
        |  FROM g
        |  LEFT JOIN c5t t5 ON g.g5 = t5.gr
        |  LEFT JOIN c4t t4a ON g.g4a = t4a.gr
        |  LEFT JOIN c4t t4b ON g.g4b = t4b.gr
        |  LEFT JOIN c3t t3a ON g.g3a = t3a.gr
        |  LEFT JOIN c3t t3b ON g.g3b = t3b.gr
        |  LEFT JOIN c2t t2a ON g.g2a = t2a.gr
        |  LEFT JOIN c2t t2b ON g.g2b = t2b.gr
        |  JOIN c1 cu4 ON g.u4 = cu4.w
        |  JOIN c1 cu5 ON g.u5 = cu5.w
        |  CROSS JOIN nt),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_5grams,
        |    CAST(sum(h5) AS BIGINT) AS n_5gram_hits,
        |    CAST(sum(h4) AS BIGINT) AS n_4gram_backoffs,
        |    CAST(sum(h3) AS BIGINT) AS n_3gram_backoffs,
        |    CAST(sum(h2) AS BIGINT) AS n_2gram_backoffs,
        |    CAST(count(*) - sum(h5) - sum(h4) - sum(h3) - sum(h2) AS BIGINT)
        |      AS n_unigram_backoffs,
        |    round(avg(lp), 6) AS avg_logprob
        |  FROM scored GROUP BY 1),
        |cuts AS (
        |  SELECT quantile_cont(avg_logprob, 0.3333333333333333) AS k1,
        |    quantile_cont(avg_logprob, 0.6666666666666666) AS k2
        |  FROM perdoc)
        |SELECT doc_id, n_5grams, n_5gram_hits, n_4gram_backoffs,
        |  n_3gram_backoffs, n_2gram_backoffs, n_unigram_backoffs,
        |  avg_logprob,
        |  CASE WHEN avg_logprob > k2 THEN 'head'
        |       WHEN avg_logprob > k1 THEN 'middle' ELSE 'tail' END AS tier
        |FROM perdoc CROSS JOIN cuts ORDER BY doc_id""".stripMargin)),
    QueryDef("t35_backoff_perplexity", (s, d) => backoffPerplexity(s, d), Some(
      // the full stupid-backoff replay: same pruned count tables, same
      // branch rule, same ln arithmetic; the integer backoff-level
      // counts pin every branch decision independent of fp
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams0 AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(t) - 2),
        |      i -> struct_pack(
        |        g3 := t[i] || ' ' || t[i+1] || ' ' || t[i+2],
        |        g2a := t[i] || ' ' || t[i+1],
        |        g2b := t[i+1] || ' ' || t[i+2],
        |        u2 := t[i+1], u3 := t[i+2]))) AS p
        |  FROM toks WHERE len(t) >= 3),
        |g AS (
        |  SELECT doc_id, p.g3 AS g3, p.g2a AS g2a, p.g2b AS g2b,
        |    p.u2 AS u2, p.u3 AS u3
        |  FROM grams0),
        |c3 AS (
        |  SELECT g3 AS tg, count(*) AS c3 FROM g
        |  GROUP BY 1 HAVING count(*) >= 5),
        |bi AS (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1])) AS bg
        |  FROM toks WHERE len(t) >= 2),
        |c2 AS (SELECT bg, count(*) AS c2 FROM bi
        |  GROUP BY 1 HAVING count(*) >= 5),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY 1),
        |nt AS (SELECT count(*) AS n_corpus FROM uni),
        |scored AS (
        |  SELECT g.doc_id,
        |    CASE
        |      WHEN c3.c3 IS NOT NULL THEN ln(CAST(c3.c3 AS DOUBLE) / c2a.c2)
        |      WHEN c2b.c2 IS NOT NULL
        |        THEN ln(0.4 * CAST(c2b.c2 AS DOUBLE) / cu2.c1)
        |      ELSE ln(0.16 * CAST(cu3.c1 AS DOUBLE) / nt.n_corpus) END AS lp,
        |    CASE WHEN c3.c3 IS NOT NULL THEN 1 ELSE 0 END AS h3,
        |    CASE WHEN c3.c3 IS NULL AND c2b.c2 IS NOT NULL THEN 1 ELSE 0 END
        |      AS h2
        |  FROM g
        |  LEFT JOIN c3 ON g.g3 = c3.tg
        |  LEFT JOIN c2 c2a ON g.g2a = c2a.bg
        |  LEFT JOIN c2 c2b ON g.g2b = c2b.bg
        |  JOIN c1 cu2 ON g.u2 = cu2.w
        |  JOIN c1 cu3 ON g.u3 = cu3.w
        |  CROSS JOIN nt),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_trigrams,
        |    CAST(sum(h3) AS BIGINT) AS n_trigram_hits,
        |    CAST(sum(h2) AS BIGINT) AS n_bigram_backoffs,
        |    CAST(count(*) - sum(h3) - sum(h2) AS BIGINT) AS n_unigram_backoffs,
        |    round(avg(lp), 6) AS avg_logprob
        |  FROM scored GROUP BY 1),
        |cuts AS (
        |  SELECT quantile_cont(avg_logprob, 0.3333333333333333) AS k1,
        |    quantile_cont(avg_logprob, 0.6666666666666666) AS k2
        |  FROM perdoc)
        |SELECT doc_id, n_trigrams, n_trigram_hits, n_bigram_backoffs,
        |  n_unigram_backoffs, avg_logprob,
        |  CASE WHEN avg_logprob > k2 THEN 'head'
        |       WHEN avg_logprob > k1 THEN 'middle' ELSE 'tail' END AS tier
        |FROM perdoc CROSS JOIN cuts ORDER BY doc_id""".stripMargin)),
    QueryDef("t20_perplexity_tiers", (s, d) => perplexityTiers(s, d), Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |big AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1])) AS bg
        |  FROM toks WHERE len(t) >= 2),
        |bigc AS (SELECT bg, count(*) AS cb FROM big GROUP BY 1),
        |unic AS (
        |  SELECT string_split(bg, ' ')[1] AS w1, count(*) AS cu
        |  FROM big GROUP BY 1),
        |v AS (
        |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vocab
        |  FROM (SELECT unnest(t) AS tok FROM toks)),
        |scored AS (
        |  SELECT b.doc_id,
        |    ln(CAST(bc.cb + 1 AS DOUBLE) / (u.cu + v.vocab)) AS lp
        |  FROM big b JOIN bigc bc USING (bg)
        |  JOIN unic u ON string_split(b.bg, ' ')[1] = u.w1, v),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    round(avg(lp), 6) AS avg_logprob
        |  FROM scored GROUP BY 1),
        |cuts AS (
        |  SELECT quantile_cont(avg_logprob, 0.3333333333333333) AS c1,
        |    quantile_cont(avg_logprob, 0.6666666666666666) AS c2
        |  FROM perdoc),
        |tiered AS (
        |  SELECT CASE WHEN avg_logprob > c2 THEN 'head'
        |    WHEN avg_logprob > c1 THEN 'middle' ELSE 'tail' END AS tier,
        |    n_bigrams, avg_logprob
        |  FROM perdoc CROSS JOIN cuts)
        |SELECT tier, count(*) AS n_docs,
        |  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
        |  round(avg(avg_logprob), 4) AS avg_lp
        |FROM tiered GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("t16_bigram_score", bigramScore, Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |big AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1])) AS bg
        |  FROM toks WHERE len(t) >= 2),
        |bigc AS (SELECT bg, count(*) AS cb FROM big GROUP BY 1),
        |unic AS (
        |  SELECT string_split(bg, ' ')[1] AS w1, count(*) AS cu
        |  FROM big GROUP BY 1),
        |v AS (
        |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vocab
        |  FROM (SELECT unnest(t) AS tok FROM toks)),
        |scored AS (
        |  SELECT b.doc_id,
        |    ln(CAST(bc.cb + 1 AS DOUBLE) / (u.cu + v.vocab)) AS lp
        |  FROM big b JOIN bigc bc USING (bg)
        |  JOIN unic u ON string_split(b.bg, ' ')[1] = u.w1, v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(lp), 6) AS avg_logprob
        |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("p13_corpus_build", (s, d) => corpusBuild(s, d), Some {
      val wlist = t28WeightsU.mkString("[", ",", "]")
      s"""WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |lines AS (
        |  SELECT doc_id, source, i AS line_idx,
        |    array_to_string(w[1 + i*5 : 5 + i*5], ' ') AS line
        |  FROM t, unnest(range(0, CAST(ceil(len(w) / 5.0) AS BIGINT))) r(i)),
        |df AS (
        |  SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY line),
        |marked AS (
        |  SELECT l.doc_id, l.source, l.line_idx, l.line, (df.nd > 2) AS bp
        |  FROM lines l JOIN df USING (line)),
        |cleaned AS (
        |  SELECT doc_id, source,
        |    CAST(sum(len(string_split(line, ' '))) AS BIGINT) AS orig_toks,
        |    CAST(sum(CASE WHEN bp THEN 0 ELSE len(string_split(line, ' ')) END)
        |      AS BIGINT) AS clean_toks,
        |    coalesce(string_agg(CASE WHEN bp THEN NULL ELSE line END,
        |      ' ' ORDER BY line_idx), '') AS clean
        |  FROM marked GROUP BY doc_id, source),
        |fl0 AS (SELECT *, string_split(clean, ' ') AS cw FROM cleaned),
        |flags AS (
        |  SELECT doc_id, source, orig_toks, clean_toks,
        |    (row_number() OVER (PARTITION BY clean ORDER BY doc_id) = 1)
        |      AS exact_keep,
        |    (CAST(coalesce(list_sum(list_transform(range(1, len(cw)), i ->
        |      (${wlist}::BIGINT[])[
        |        (strpos('0123456789abcdef',
        |           substr(md5(cw[i] || ' ' || cw[i+1]), 1, 1)) - 1) * 16
        |        + strpos('0123456789abcdef',
        |           substr(md5(cw[i] || ' ' || cw[i+1]), 2, 1))])), 0)
        |      AS BIGINT) >= 0) AS q_keep,
        |    md5(CAST(doc_id AS VARCHAR)) AS hk
        |  FROM fl0),
        |surv AS (SELECT * FROM flags WHERE exact_keep AND q_keep),
        |bysrc AS (SELECT source, sum(clean_toks) AS s_tok FROM surv GROUP BY 1),
        |wts AS (
        |  SELECT source, sqrt(CAST(s_tok AS DOUBLE)) AS wg,
        |    sum(sqrt(CAST(s_tok AS DOUBLE))) OVER (ORDER BY source
        |      ROWS UNBOUNDED PRECEDING) AS cwt
        |  FROM bysrc),
        |norm AS (SELECT max(cwt) AS wnorm FROM wts),
        |tb AS (SELECT floor(CAST(sum(clean_toks) AS DOUBLE) * 0.3) AS tbv
        |  FROM surv),
        |bud AS (
        |  SELECT source, CAST(floor(tbv * wg / wnorm) AS BIGINT) AS budget
        |  FROM wts CROSS JOIN norm CROSS JOIN tb),
        |fill AS (
        |  SELECT s.*, sum(clean_toks) OVER (PARTITION BY s.source
        |    ORDER BY hk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM surv s),
        |mixed AS (
        |  SELECT doc_id, f.source, clean_toks, cum
        |  FROM fill f JOIN bud USING (source) WHERE cum <= budget),
        |pk AS (
        |  SELECT source, count(DISTINCT CAST(floor((cum - clean_toks)
        |    / 8192.0) AS BIGINT)) AS n_bins
        |  FROM mixed GROUP BY source),
        |roll AS (
        |  SELECT fl.source,
        |    count(*) AS n_all,
        |    CAST(sum(orig_toks) AS BIGINT) AS tok_orig,
        |    CAST(sum(fl.clean_toks) AS BIGINT) AS tok_clean,
        |    CAST(sum(CASE WHEN exact_keep THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_exact,
        |    CAST(sum(CASE WHEN exact_keep THEN fl.clean_toks ELSE 0 END)
        |      AS BIGINT) AS tok_exact,
        |    CAST(sum(CASE WHEN exact_keep AND q_keep THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_q,
        |    CAST(sum(CASE WHEN exact_keep AND q_keep THEN fl.clean_toks
        |      ELSE 0 END) AS BIGINT) AS tok_q,
        |    CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_mix,
        |    CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN fl.clean_toks
        |      ELSE 0 END) AS BIGINT) AS tok_mix
        |  FROM flags fl LEFT JOIN mixed m USING (doc_id)
        |  GROUP BY fl.source),
        |acct AS (
        |  SELECT '1_clean' AS stage, source, n_all AS n_docs_in,
        |    n_all AS n_docs_kept, 0 AS n_docs_dropped, tok_orig AS n_toks_in,
        |    tok_clean AS n_toks_kept, tok_orig - tok_clean AS n_toks_dropped,
        |    0 AS n_bins FROM roll
        |  UNION ALL
        |  SELECT '2_exact', source, n_all, n_exact, n_all - n_exact,
        |    tok_clean, tok_exact, tok_clean - tok_exact, 0 FROM roll
        |  UNION ALL
        |  SELECT '3_quality', source, n_exact, n_q, n_exact - n_q,
        |    tok_exact, tok_q, tok_exact - tok_q, 0 FROM roll
        |  UNION ALL
        |  SELECT '4_mix', source, n_q, n_mix, n_q - n_mix,
        |    tok_q, tok_mix, tok_q - tok_mix, 0 FROM roll
        |  UNION ALL
        |  SELECT '5_pack', roll.source, n_mix, n_mix, 0,
        |    tok_mix, tok_mix, 0, coalesce(pk.n_bins, 0)
        |  FROM roll LEFT JOIN pk ON roll.source = pk.source)
        |SELECT stage, source,
        |  CAST(n_docs_in AS BIGINT) AS n_docs_in,
        |  CAST(n_docs_kept AS BIGINT) AS n_docs_kept,
        |  CAST(n_docs_dropped AS BIGINT) AS n_docs_dropped,
        |  CAST(n_toks_in AS BIGINT) AS n_toks_in,
        |  CAST(n_toks_kept AS BIGINT) AS n_toks_kept,
        |  CAST(n_toks_dropped AS BIGINT) AS n_toks_dropped,
        |  CAST(n_bins AS BIGINT) AS n_bins
        |FROM acct ORDER BY stage, source""".stripMargin
    }),
    // rows-only: the LSH and SemDeDup stages have no SQL twin; the spec
    // pins containment vs the oracled p13 and stage-chain consistency
    QueryDef("p14_corpus_build_sem", (s, d) => corpusBuildSemantic(s, d), None),
    QueryDef("p18_unimax_mix", (s, d) => unimaxMix(s, d), Some(
      // the sequential smallest-first walk replayed as a recursive CTE
      // (q5's engine-level recursion cross-check); every state update is
      // integer arithmetic with truncating //, so both engines agree
      // bit-for-bit and only `epochs` divides identical integers
      """WITH RECURSIVE s AS (
        |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY source),
        |r AS (
        |  SELECT source, n_tok,
        |    row_number() OVER (ORDER BY n_tok, source) AS rn
        |  FROM s),
        |tot AS (
        |  -- CAST: DuckDB sum(BIGINT) is HUGEINT; keep the whole walk BIGINT
        |  SELECT CAST((sum(n_tok) * 2) // 5 AS BIGINT) AS b0, count(*) AS k
        |  FROM s),
        |walk AS (
        |  SELECT CAST(0 AS BIGINT) AS rn, b0 AS b,
        |    CAST(NULL AS VARCHAR) AS source, CAST(0 AS BIGINT) AS n_tok,
        |    CAST(0 AS BIGINT) AS alloc
        |  FROM tot
        |  UNION ALL
        |  SELECT r.rn, w.b - least(4 * r.n_tok, w.b // (t.k - w.rn)),
        |    r.source, r.n_tok, least(4 * r.n_tok, w.b // (t.k - w.rn))
        |  FROM walk w JOIN r ON r.rn = w.rn + 1 CROSS JOIN tot t)
        |SELECT source, n_tok, alloc AS alloc_tok,
        |  round(CASE WHEN n_tok > 0
        |    THEN CAST(alloc AS DOUBLE) / CAST(n_tok AS DOUBLE)
        |    ELSE 0.0 END, 6) AS epochs,
        |  CASE WHEN alloc = 4 * n_tok THEN 1 ELSE 0 END AS capped
        |FROM walk WHERE rn >= 1 ORDER BY source""".stripMargin)),
    QueryDef("p8_temperature_mix", (s, d) => temperatureMix(s, d), Some(
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS hk
        |  FROM documents),
        |bysrc AS (SELECT source, sum(n_tok) AS s_tok FROM docs GROUP BY 1),
        |wts AS (
        |  SELECT source, sqrt(CAST(s_tok AS DOUBLE)) AS w,
        |    sum(sqrt(CAST(s_tok AS DOUBLE))) OVER (ORDER BY source
        |      ROWS UNBOUNDED PRECEDING) AS cw
        |  FROM bysrc),
        |norm AS (SELECT max(cw) AS wnorm FROM wts),
        |tb AS (SELECT floor(CAST(sum(n_tok) AS DOUBLE) * 0.3) AS tbv FROM docs),
        |bud AS (
        |  SELECT source, CAST(floor(tbv * w / wnorm) AS BIGINT) AS budget
        |  FROM wts CROSS JOIN norm CROSS JOIN tb),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY hk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM docs)
        |SELECT doc_id, c.source, n_tok, CAST(cum AS BIGINT) AS cum
        |FROM c JOIN bud USING (source) WHERE cum <= budget
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("p3_source_mix", (s, d) => sourceMix(s, d), Some(
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS hk
        |  FROM documents),
        |b AS (
        |  SELECT CAST(floor(CAST(sum(n_tok) AS DOUBLE) * 0.3
        |    / count(DISTINCT source)) AS BIGINT) AS budget
        |  FROM docs),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY hk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM docs)
        |SELECT doc_id, source, n_tok, CAST(cum AS BIGINT) AS cum
        |FROM c, b WHERE cum <= budget ORDER BY doc_id""".stripMargin)),
    QueryDef("t15_dup_spans", (s, d) => dupSpans(s, d), Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(greatest(len(t) - 15, 0) AS BIGINT)
        |    AS n_spans, t FROM toks),
        |sp AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 15),
        |    i -> md5(array_to_string(t[i:i+15], ' ')))) AS h
        |  FROM base WHERE n_spans > 0),
        |dup AS (SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) > 1),
        |per AS (
        |  SELECT doc_id, count(*) AS n_dup_spans FROM sp
        |  WHERE h IN (SELECT h FROM dup) GROUP BY 1)
        |SELECT b.doc_id, b.n_spans,
        |  CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  round(CASE WHEN b.n_spans > 0
        |    THEN CAST(coalesce(p.n_dup_spans, 0) AS DOUBLE) / b.n_spans
        |    ELSE 0 END, 6) AS dup_frac,
        |  CASE WHEN (CASE WHEN b.n_spans > 0
        |    THEN CAST(coalesce(p.n_dup_spans, 0) AS DOUBLE) / b.n_spans
        |    ELSE 0 END) >= 0.5::DOUBLE THEN 1 ELSE 0 END AS flagged
        |FROM base b LEFT JOIN per p USING (doc_id) ORDER BY 1""".stripMargin)),
    QueryDef("t1_token_counts", tokenCounts, Some(
      // CAST AS BIGINT: DuckDB's list_sum over a BIGINT list yields HUGEINT
      // (float64 through pandas) — hash-mismatches Spark's int64 otherwise.
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  CAST(list_sum(list_transform(string_split(text, ' '),
        |    t -> greatest(1, CAST(ceil(length(t) / 4.0::DOUBLE) AS BIGINT)))) AS BIGINT) AS n_bpeish,
        |  length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("t2_quality_score", qualityScore, Some(
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        |    CAST(length(text) AS DOUBLE) AS n_chr,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS sw,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS dg
        |  FROM documents)
        |SELECT doc_id,
        |  round((n_chr - (n_tok - 1)) / n_tok, 6) AS mean_word_len,
        |  round(sw / n_tok, 6) AS stopword_ratio,
        |  round(dg / n_chr, 6) AS digit_ratio,
        |  round(
        |    (CASE WHEN (n_chr - (n_tok - 1)) / n_tok BETWEEN 2.0::DOUBLE AND 12.0::DOUBLE
        |          THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END)
        |    + least(sw / n_tok * 3.0::DOUBLE, 0.4::DOUBLE)
        |    + (CASE WHEN dg / n_chr < 0.2::DOUBLE THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END), 6) AS quality
        |FROM q ORDER BY doc_id""".stripMargin)),
    QueryDef("t3_lang_id", langId, Some(
      """SELECT doc_id, lang AS labeled_lang,
        |  CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |       WHEN len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to','in','is')))
        |         >= len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','y','que','en','un')))
        |        AND len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to','in','is')))
        |         >= len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und','zu','ist','ein')))
        |       THEN 'en'
        |       WHEN len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','y','que','en','un')))
        |         >= len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und','zu','ist','ein')))
        |       THEN 'es'
        |       ELSE 'de' END AS pred_lang
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("t31_lang_confusion", (s, d) => langConfusion(s, d), Some(
      // t3's detector verbatim, rolled up to the confusion matrix
      """WITH pred AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |    CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |         WHEN len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to','in','is')))
        |           >= len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','y','que','en','un')))
        |          AND len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to','in','is')))
        |           >= len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und','zu','ist','ein')))
        |         THEN 'en'
        |         WHEN len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','y','que','en','un')))
        |           >= len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und','zu','ist','ein')))
        |         THEN 'es'
        |         ELSE 'de' END AS pred_lang
        |  FROM documents),
        |cm AS (
        |  SELECT labeled_lang, pred_lang, count(*) AS n_docs
        |  FROM pred GROUP BY 1, 2),
        |tot AS (
        |  SELECT labeled_lang, CAST(sum(n_docs) AS BIGINT) AS n_label
        |  FROM cm GROUP BY 1)
        |SELECT cm.labeled_lang, cm.pred_lang, cm.n_docs,
        |  round(cm.n_docs * 1.0 / t.n_label, 6) AS share,
        |  CAST(cm.labeled_lang = cm.pred_lang AS INT) AS correct
        |FROM cm JOIN tot t USING (labeled_lang)
        |ORDER BY labeled_lang, pred_lang""".stripMargin)),
    QueryDef("t4_fingerprint", fingerprint, None),
    QueryDef("t5_stratified_sample", stratifiedSample, None),
    QueryDef("t6_pii_redaction", piiRedaction, Some(
      // regexes are shared literals; DuckDB needs the explicit 'g' flag
      // (Spark's regexp_replace is global by default)
      s"""WITH dirty AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |           || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || '.1'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' acct ' || CAST(doc_id * 1000003 + 12345678 AS VARCHAR)
        |         ELSE '' END AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(dirty, '$emailRe')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(dirty, '$ipRe')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(dirty, '$numRe')) AS BIGINT) AS n_nums,
        |  md5(regexp_replace(regexp_replace(regexp_replace(dirty,
        |    '$emailRe', '<EMAIL>', 'g'), '$ipRe', '<IP>', 'g'), '$numRe', '<NUM>', 'g')) AS redacted_md5
        |FROM dirty ORDER BY doc_id""".stripMargin)),
    QueryDef("t7_repetition", repetitionSignals, Some(
      // CAST sums to DOUBLE: DuckDB sum(BIGINT) is HUGEINT
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token),
        |agg AS (SELECT doc_id,
        |    CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttf,
        |    CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS utr
        |  FROM tc GROUP BY doc_id),
        |tri AS (SELECT doc_id,
        |    CASE WHEN len(string_split(text,' ')) >= 3
        |      THEN list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])
        |      ELSE [text] END AS tris
        |  FROM documents),
        |trif AS (SELECT doc_id,
        |    1.0::DOUBLE - CAST(len(list_distinct(tris)) AS DOUBLE) / CAST(len(tris) AS DOUBLE) AS dtf
        |  FROM tri)
        |SELECT a.doc_id, round(ttf, 6) AS top_token_frac,
        |  round(utr, 6) AS unique_token_ratio, round(dtf, 6) AS dup_trigram_frac
        |FROM agg a JOIN trif t ON a.doc_id = t.doc_id ORDER BY a.doc_id""".stripMargin)),
    QueryDef("p2_sequence_packing", (s, d) => sequencePacking(s, d), Some(
      """SELECT lang, doc_id, n_tokens,
        |  CAST(floor((cum - n_tokens) / 8192.0::DOUBLE) AS BIGINT) AS seq_id
        |FROM (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
        |      PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents)
        |ORDER BY lang, doc_id""".stripMargin)),
    QueryDef("t10_hash_sample", (s, d) => hashSample(s, d), Some(
      """SELECT lang, CAST(rn AS INT) AS rn, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 3 ORDER BY lang, rn""".stripMargin)),
    QueryDef("t9_contamination", (s, d) => contamination(s, d),
      Some(contaminationOracle)),
    // t11 is t9 with a bloom prefilter — exact by construction, so it
    // shares t9's oracle verbatim: the strongest possible statement that
    // the sketch path loses nothing
    QueryDef("t11_bloom_contamination", (s, d) => bloomContamination(s, d),
      Some(contaminationOracle)),
    QueryDef("t12_heavy_hitters", (s, d) => heavyHitters(s, d),
      Some(heavyHittersOracle)),
    // shares t12's oracle verbatim: CMS prefilter + exact verify is
    // provably lossless (one-sided sketch error), same statement t11
    // makes for the bloom path
    QueryDef("t17_cms_heavy_hitters", (s, d) => cmsHeavyHitters(s, d),
      Some(heavyHittersOracle)),
    // rows-only: the FFD greedy is iterative (not SQL-expressible);
    // budget/partition/density invariants are pinned in the spec
    QueryDef("p7_ffd_packing", (s, d) => ffdPacking(s, d), Some(
      // the FFD greedy is deterministic, so DuckDB REPLAYS it: a
      // recursive CTE walks each language's (n_tok DESC, doc_id) order
      // carrying the open-bin list as LIST<STRUCT>, first-fit via
      // list_filter, 256-cap via slice — bin ids match bit-for-bit
      """WITH RECURSIVE docs AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, n_tok,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY n_tok DESC, doc_id) AS BIGINT) AS rn
        |  FROM docs),
        |langs AS (SELECT DISTINCT lang FROM r),
        |walk AS (
        |  SELECT lang, CAST(0 AS BIGINT) AS rn,
        |    CAST([] AS STRUCT(b INTEGER, u BIGINT)[]) AS open,
        |    0 AS next_bin,
        |    CAST(NULL AS BIGINT) AS doc_id, CAST(0 AS BIGINT) AS n_tok,
        |    -1 AS bin
        |  FROM langs
        |  UNION ALL
        |  SELECT w.lang, r.rn,
        |    CASE WHEN len(list_filter(w.open, x -> x.u + r.n_tok <= 2048)) > 0
        |      THEN list_transform(w.open, x ->
        |        CASE WHEN x.b = list_filter(w.open,
        |            y -> y.u + r.n_tok <= 2048)[1].b
        |          THEN {'b': x.b, 'u': x.u + r.n_tok} ELSE x END)
        |      ELSE CASE WHEN len(w.open) + 1 > 256
        |        THEN (w.open || [{'b': w.next_bin, 'u': r.n_tok}])[2:]
        |        ELSE w.open || [{'b': w.next_bin, 'u': r.n_tok}] END
        |    END AS open,
        |    CASE WHEN len(list_filter(w.open, x -> x.u + r.n_tok <= 2048)) > 0
        |      THEN w.next_bin ELSE w.next_bin + 1 END AS next_bin,
        |    r.doc_id, r.n_tok,
        |    CASE WHEN len(list_filter(w.open, x -> x.u + r.n_tok <= 2048)) > 0
        |      THEN list_filter(w.open, x -> x.u + r.n_tok <= 2048)[1].b
        |      ELSE w.next_bin END AS bin
        |  FROM walk w JOIN r ON r.lang = w.lang AND r.rn = w.rn + 1)
        |SELECT lang, bin, doc_id, n_tok
        |FROM walk WHERE rn >= 1 ORDER BY lang, bin, doc_id""".stripMargin)),
    QueryDef("p9_clean_corpus", (s, d) => cleanCorpusSummary(s, d), Some(
      s"""WITH $contaminationCtes,
        |corpus AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
        |    row_number() OVER (PARTITION BY d.text ORDER BY d.doc_id) AS rn
        |  FROM documents d WHERE d.doc_id % 50 <> 0),
        |flags AS (
        |  SELECT c.source,
        |    CASE WHEN c.rn > 1 THEN 'dup'
        |         WHEN CAST(COALESCE(m.n_overlap, 0) AS DOUBLE)
        |             / CAST(s.n_sh AS DOUBLE) >= 0.2::DOUBLE THEN 'contaminated'
        |         ELSE 'kept' END AS status,
        |    c.n_tok
        |  FROM corpus c JOIN sized s ON c.doc_id = s.doc_id
        |    LEFT JOIN matched m ON c.doc_id = m.doc_id)
        |SELECT source, status, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM flags GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("t21_zipf_fit", (s, d) => zipfFit(s, d), Some(
      """WITH c AS (
        |  SELECT token, count(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1),
        |r AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, token) AS DOUBLE)) AS lr,
        |    ln(CAST(n AS DOUBLE)) AS lc, n
        |  FROM c)
        |SELECT round(regr_slope(lc, lr), 6) AS zipf_slope,
        |  round(regr_intercept(lc, lr), 6) AS zipf_intercept,
        |  round(regr_r2(lc, lr), 6) AS r2,
        |  count(*) AS n_types, CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM r""".stripMargin)),
    QueryDef("t19_normalize_text", (s, d) => normalizeText(s, d), Some(
      """SELECT doc_id, CAST(t = text AS INT) AS restored, md5(t) AS clean_md5
        |FROM (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(
        |      '  ' || replace(text, ' ', '   ') || chr(9) || chr(13) || ' ',
        |      '[\x00-\x1f]', ' ', 'g'), ' {2,}', ' ', 'g')) AS t
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("t18_trigram_counts", (s, d) => trigramCounts(s, d), Some(
      """WITH tok AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tri AS (
        |  SELECT t[g] || ' ' || t[g+1] || ' ' || t[g+2] AS trigram
        |  FROM tok, LATERAL (
        |    SELECT unnest(generate_series(1, len(t) - 2)) AS g) AS x(g))
        |SELECT trigram, count(*) AS n FROM tri
        |GROUP BY 1 HAVING count(*) >= 5
        |ORDER BY n DESC, trigram""".stripMargin)),
    QueryDef("p5_shard_assign", (s, d) => shardAssign(s, d), Some(
      """WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents)
        |SELECT doc_id, substr(hk, 1, 2) AS shard,
        |  CAST(row_number() OVER (PARTITION BY substr(hk, 1, 2)
        |    ORDER BY hk, doc_id) AS INT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin)),
    QueryDef("f13_unicode_norm", (s, d) => unicodeNorm(s, d), Some(
      """WITH dirty AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 2 = 0 THEN ' caf' || chr(233)
        |                 ELSE ' cafe' || chr(769) END AS t
        |  FROM documents)
        |SELECT doc_id, length(t) AS n_raw,
        |  length(nfc_normalize(t)) AS n_nfc,
        |  md5(nfc_normalize(t)) AS nfc_md5
        |FROM dirty ORDER BY doc_id""".stripMargin)),
    QueryDef("p12_curriculum_order", (s, d) => curriculumOrder(s, d), Some(
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        |    CAST(length(text) AS DOUBLE) AS n_chr,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS sw,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS dg
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, round(
        |    (CASE WHEN (n_chr - (n_tok - 1)) / n_tok BETWEEN 2.0::DOUBLE AND 12.0::DOUBLE
        |          THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END)
        |    + least(sw / n_tok * 3.0::DOUBLE, 0.4::DOUBLE)
        |    + (CASE WHEN dg / n_chr < 0.2::DOUBLE THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END),
        |    6) AS quality
        |  FROM q),
        |t AS (
        |  SELECT doc_id, quality,
        |    CASE WHEN quality >= 0.8::DOUBLE THEN 1
        |         WHEN quality >= 0.5::DOUBLE THEN 2 ELSE 3 END AS tier,
        |    md5(CAST(doc_id AS VARCHAR)) AS hk
        |  FROM sc)
        |SELECT tier, substr(hk, 1, 1) AS shard,
        |  CAST(row_number() OVER (PARTITION BY tier, substr(hk, 1, 1)
        |    ORDER BY hk, doc_id) AS INT) AS pos,
        |  doc_id, quality
        |FROM t ORDER BY tier, shard, pos""".stripMargin)),
    QueryDef("p11_epoch_shuffle", (s, d) => epochShuffle(s, d), Some(
      """WITH e AS (
        |  SELECT doc_id, epoch
        |  FROM documents, (SELECT unnest([0, 1, 2]) AS epoch)),
        |h AS (
        |  SELECT doc_id, epoch,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS hk
        |  FROM e)
        |SELECT epoch, substr(hk, 1, 1) AS shard,
        |  CAST(row_number() OVER (PARTITION BY epoch, substr(hk, 1, 1)
        |    ORDER BY hk, doc_id) AS INT) AS pos,
        |  doc_id
        |FROM h ORDER BY epoch, shard, pos""".stripMargin)),
    QueryDef("p20_preference_pairs", (s, d) => preferencePairs(s, d), Some(
      """WITH q0 AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        |    CAST(length(text) AS DOUBLE) AS n_chr,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS sw,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS dg
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source,
        |    round(
        |      (CASE WHEN (n_chr - (n_tok - 1)) / n_tok BETWEEN 2.0::DOUBLE AND 12.0::DOUBLE
        |            THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END)
        |      + least(sw / n_tok * 3.0::DOUBLE, 0.4::DOUBLE)
        |      + (CASE WHEN dg / n_chr < 0.2::DOUBLE THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END), 6) AS q
        |  FROM q0),
        |r AS (
        |  SELECT doc_id, source, q,
        |    row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id ASC) AS rtop,
        |    row_number() OVER (PARTITION BY source ORDER BY q ASC, doc_id DESC) AS rbot,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM q),
        |c AS (SELECT source, rtop AS pair_rank, doc_id AS chosen_id, q AS cq
        |      FROM r WHERE rtop <= least(5, n // 2)),
        |j AS (SELECT source, rbot AS pair_rank, doc_id AS rejected_id, q AS rq
        |      FROM r WHERE rbot <= least(5, n // 2))
        |SELECT c.source, c.pair_rank, chosen_id, rejected_id,
        |  round(cq - rq, 6) AS margin
        |FROM c JOIN j ON c.source = j.source AND c.pair_rank = j.pair_rank
        |ORDER BY c.source, c.pair_rank""".stripMargin)),
    QueryDef("p21_leakage_split", (s, d) => leakageSplit(s, d), Some(
      """WITH g AS (
        |  SELECT min(doc_id) AS rep, count(*) AS n_docs_g,
        |    sum(n_chars) AS n_chars_g
        |  FROM documents GROUP BY text),
        |a AS (
        |  SELECT CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |              WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 2) < 'e6' THEN 'valid'
        |              ELSE 'test' END AS split,
        |    n_docs_g, n_chars_g
        |  FROM g)
        |SELECT split, CAST(sum(n_docs_g) AS BIGINT) AS n_docs,
        |  count(*) AS n_groups, CAST(sum(n_chars_g) AS BIGINT) AS n_chars
        |FROM a GROUP BY 1 ORDER BY split""".stripMargin)),
    QueryDef("p6_hash_split", (s, d) => hashSplit(s, d), Some(
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'valid'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin)),
    QueryDef("t13_tfidf", (s, d) => tfidfTopTerms(s, d), Some(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
        |nt AS (SELECT doc_id, sum(c) AS n_tok FROM tc GROUP BY 1),
        |dfq AS (SELECT token, count(*) AS df FROM tc GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tc.doc_id, tc.token,
        |    round((CAST(c AS DOUBLE) / CAST(n_tok AS DOUBLE))
        |      * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
        |  FROM tc JOIN nt USING (doc_id) JOIN dfq USING (token) CROSS JOIN nd),
        |rk AS (SELECT doc_id, token, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
        |  FROM scored)
        |SELECT doc_id, CAST(rn AS INT) AS rn, token, tfidf
        |FROM rk WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)),
    QueryDef("t14_rag_chunks", (s, d) => ragChunks(s, d), Some(
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0,
        |      CAST(1 + ceil(greatest(n_tok - 64, 0) / 48.0) AS INT) - 1)) AS chunk_idx
        |  FROM t)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(len(list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64)) AS INT) AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),
    QueryDef("t8_vocab_topk", (s, d) => vocabTopK(s, d), Some(
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin)),
    QueryDef("p1_corpus_pipeline", (s, d) => corpusPipeline(s, d), Some(
      """WITH q AS (
        |  SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        |    CAST(length(text) AS DOUBLE) AS n_chr,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS sw,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS dg,
        |    CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |         WHEN len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to','in','is')))
        |           >= len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','y','que','en','un')))
        |          AND len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to','in','is')))
        |           >= len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und','zu','ist','ein')))
        |         THEN 'en'
        |         WHEN len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','y','que','en','un')))
        |           >= len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und','zu','ist','ein')))
        |         THEN 'es'
        |         ELSE 'de' END AS pred_lang
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, text, n_tokens, pred_lang,
        |    (CASE WHEN (n_chr - (n_tok - 1)) / n_tok BETWEEN 2.0::DOUBLE AND 12.0::DOUBLE
        |          THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END)
        |    + least(sw / n_tok * 3.0::DOUBLE, 0.4::DOUBLE)
        |    + (CASE WHEN dg / n_chr < 0.2::DOUBLE THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END) AS quality
        |  FROM q),
        |kept AS (
        |  SELECT doc_id, text, n_tokens, pred_lang, quality,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM scored
        |  WHERE quality >= 0.5::DOUBLE AND n_tokens BETWEEN 5 AND 5000)
        |SELECT doc_id, pred_lang, n_tokens, round(quality, 6) AS quality
        |FROM kept WHERE rn = 1 ORDER BY doc_id""".stripMargin))
  )
}
