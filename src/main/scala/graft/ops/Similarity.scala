package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.engine.{Iterate, Staged}

/** Similarity search over embedding columns (ARRAY<FLOAT>).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against a narrow scan of the corpus; exact, embarrassingly
  * parallel, and the recall oracle for everything else.
  *
  * Scale path: IVF (inverted-file) — KMeans coarse quantizer, corpus
  * bucketed by nearest centroid, queries probe only `nprobe` buckets.
  * At 100 TB the bucketed corpus is written partitioned by centroid id so
  * a probe prunes partitions at the scan (the ANN analogue of partition
  * pruning).
  */
object Similarity {
  import Tables._

  /** Cosine via codegen'd built-ins: zip_with product + left-fold sum in
    * double. No UDF — stays inside whole-stage codegen. Kept as the
    * reference implementation the native expression is checked against.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosineBuiltin(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  /** Hot-path cosine: native Catalyst expression (graft.functions.CosineSim,
    * fused single-loop doGenCode) — same element order and double
    * accumulation as the builtin form, so results are bit-identical; ~10×
    * less per-row overhead (no intermediate array, no boxing).
    */
  def cosine(a: Column, b: Column): Column = graft.functions.ArraySim.cosineNative(a, b)

  /** Brute-force exact top-k neighbors for a set of query vectors.
    * Query side is tiny → broadcast; corpus side is one narrow scan;
    * per-query top-k via the bounded [[graft.functions.TopK]] Aggregator —
    * map tasks reduce their slice to ≤ k pairs before the shuffle, so
    * shuffle volume is O(queries·k·partitions), never O(corpus), and no
    * group is globally sorted. Same total order as a row_number window
    * (cos desc, n_id asc), which is how the query stays oracled against
    * the window-form SQL.
    */
  def bruteForceTopK(s: SparkSession, d: String, numQueries: Int = 5, k: Int = 10): DataFrame = {
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    graft.functions.TopK.perGroup(scored, "q_id", "cos", "n_id", k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** v19 — HARD-NEGATIVE MINING for contrastive training: for each
    * anchor vector, the k most-similar corpus vectors with a DIFFERENT
    * label — the negatives an embedding trainer pairs with each anchor
    * (easy random negatives carry no gradient; the hardest
    * other-label neighbors are the ones that move the model). The
    * different-label constraint applies IN the join, not as a
    * post-filter, for two reasons: it is the false-negative guard
    * (the nearest same-label hit is a positive, and training on it as
    * a negative actively damages the model), and post-filtering a
    * k-deep unfiltered list would underfill k whenever same-label
    * vectors dominate the neighborhood — v12's filtered-ANN trap in
    * label form. Self-pairs are excluded for free (same label).
    *
    * Scale: v2's discipline — the bounded anchor set broadcasts, the
    * corpus streams through one narrow scan+score pass, and
    * `TopK.perGroup` keeps per-anchor state at k so the shuffle
    * carries O(anchors·k) rows, never the scored grid. A full mining
    * round over ALL anchors shards the anchor set into
    * broadcast-sized batches of this same plan (or routes through
    * v15's kNN-graph machinery when anchors = corpus).
    */
  def hardNegatives(s: SparkSession, d: String, numQueries: Int = 8,
      k: Int = 10): DataFrame = {
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("label").as("n_label"),
      col("embedding").as("nv"))
    val scored = c.join(broadcast(q), col("q_label") =!= col("n_label"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    graft.functions.TopK.perGroup(scored, "q_id", "cos", "n_id", k)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** v12 — FILTERED vector search: exact top-k restricted to corpus
    * vectors whose DOCUMENT passes a metadata predicate (language
    * here) — the predicate+similarity combination every retrieval
    * stack needs (RAG with source/lang/date constraints) and the one
    * the plain top-k family lacks. The predicate applies as a
    * LEFT-SEMI join BEFORE any dot product — prune-then-score, so the
    * scan scores only the qualifying slice (at 100 TB the same
    * predicate pushes into v3/v10's bucketed index scan as a plain
    * filter column). Post-filtering a k-deep unfiltered result would
    * instead UNDERFILL k whenever fewer than k of the global top hits
    * qualify — the classic filtered-ANN correctness trap this operator
    * exists to avoid. Same total order and oracle discipline as v2.
    */
  def filteredTopK(s: SparkSession, d: String, lang: String = "en",
      numQueries: Int = 5, k: Int = 10): DataFrame = {
    val e = embeddings(s, d)
    val allowed = documents(s, d).filter(col("lang") === lang)
      .select(col("doc_id").as("n_id"))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
      .join(allowed, Seq("n_id"), "left_semi")
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    graft.functions.TopK.perGroup(scored, "q_id", "cos", "n_id", k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** Threshold variant (oracle-safe: no rank boundary) — all neighbors
    * with cosine ≥ threshold for the first numQueries vectors.
    */
  def cosineThreshold(s: SparkSession, d: String, numQueries: Int = 5, threshold: Double = 0.25): DataFrame = {
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
      .filter(col("cos") >= threshold)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "n_id")
  }

  /** The cosine-threshold query as a NAIVE user would write it — composable
    * `zip_with` + `aggregate` built-ins, no native kernels. The engine's
    * optimizer rule ([[graft.plans.NativeKernelRule]], injected via
    * GraftExtensions) rewrites the shape into the fused codegen'd
    * `graft_cosine` kernel — identical numerics AND null semantics (the
    * kernels are builtin-equivalent on every input), so the rewrite fires
    * directly on the parquet-sourced nullable-element arrays. Oracle-checked
    * like v1; physical plan pinned to contain the kernel in
    * NativeKernelsSpec.
    */
  def cosineThresholdNaive(s: SparkSession, d: String,
      numQueries: Int = 8, threshold: Double = 0.25): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("emb"))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("emb").as("nv"))
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", cosineBuiltin(col("qv"), col("nv")))
      .filter(col("cos") >= threshold)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "n_id")
  }

  /** Quantizer cell-count sizing: `nlist = clamp(n / targetCell, 16,
    * 4096)`. With nlist fixed, cell populations are O(n/nlist) and a
    * same-cell scoring block is O((n/nlist)²) — quadratic in corpus size;
    * growing nlist with n keeps the EXPECTED cell near targetCell, so
    * per-block work stays ~targetCell² no matter how the corpus scales
    * (hot natural clusters split across cells because k-means allocates
    * centroids where the mass is). The count the caller feeds this is one
    * parquet metadata-level count — never a data pass over payload
    * columns.
    */
  private[ops] def adaptiveNlist(n: Long, targetCell: Int = 1024): Int =
    math.max(16L, math.min(4096L, n / targetCell)).toInt

  /** Coarse quantizer fit: seeded KMeans over L2-NORMALIZED vectors
    * (angular k-means: on the unit sphere, euclidean cells == cosine
    * cells), fit on a deterministic hash-filtered SAMPLE of ~maxFitRows —
    * quantizer cost is ∝ sample, not corpus (a 100 TB corpus still fits
    * on 50k rows). The hash filter (`xxhash64(emb) % m == 0`, m sized
    * from the corpus count the caller already has) is layout-INDEPENDENT:
    * a prefix `limit` on a parquet sorted by label would hand KMeans one
    * cluster's worth of vectors and silently degrade cell-pair pruning
    * toward blocked all-pairs — the hash spreads the sample across the
    * whole corpus for the cost of one narrow pushdown-able scan of the
    * embedding column. The normalize-to-Vector UDF runs on the sample
    * only; the corpus is never converted to VectorUDT (see
    * [[assignCell]]). k is clamped to the corpus size for tiny inputs.
    * Returns (cell id, centroid) pairs — a driver-sized array (nlist·dim).
    */
  private[ops] def fitQuantizer(corpus: DataFrame, embCol: String, nlist: Int,
      seed: Long = 42L, maxFitRows: Int = 50000,
      corpusCount: Long = -1L): Array[(Int, Seq[Float])] = {
    val n = if (corpusCount >= 0) corpusCount else corpus.count()
    val m = math.max(1L, n / math.max(1, maxFitRows))
    // limit after the filter is a hard cap only (expected pass ≈
    // maxFitRows); the de-biasing is done by the hash
    val sampled = corpus.select(col(embCol).as("emb"))
      .filter(pmod(xxhash64(col("emb")), lit(m)) === 0)
      .limit(maxFitRows).cache()
    // degenerate corpora (few distinct vectors) can hash entirely into a
    // nonzero residue class — fall back to the prefix rather than fitting
    // on nothing; any centroids are correctness-safe (triangle bound)
    val fitRows =
      if (n > 0 && sampled.isEmpty) {
        sampled.unpersist(blocking = false)
        corpus.select(col(embCol).as("emb")).limit(maxFitRows).cache()
      } else sampled
    try {
      val nFit = fitRows.count() // bounded by maxFitRows
      if (nFit == 0) return Array.empty // callers return empty results pre-join
      if (nFit == 1) // KMeans needs k >= 2; one cell containing the one vector
        return Array((0, fitRows.head().getSeq[Float](0)))
      val toVec = udf { (a: Seq[Float]) =>
        val nn = math.sqrt(a.map(x => x.toDouble * x).sum) max 1e-12
        Vectors.dense(a.map(_.toDouble / nn).toArray)
      }
      val kEff = math.max(2, math.min(nlist.toLong, nFit).toInt)
      // maxIter 8: a coarse quantizer needs rough cells, not convergence —
      // assignment consistency (same rule for corpus and probes) is what
      // recall depends on, and near-dup is exact for ANY centroids
      val km = new KMeans().setK(kEff).setSeed(seed).setMaxIter(8)
        .setFeaturesCol("fv").setPredictionCol("cell")
      val model = km.fit(fitRows.select(toVec(col("emb")).as("fv")))
      model.clusterCenters.zipWithIndex.map { case (v, i) =>
        (i, v.toArray.map(_.toFloat).toSeq)
      }
    } finally fitRows.unpersist(blocking = false)
  }

  /** Nearest-centroid assignment as a codegen'd expression: argmax over
    * nlist native cosines via greatest-of-structs (ties → smallest cell).
    * No UDF, no VectorUDT, no boxing on the corpus hot path. Returns
    * STRUCT(cos DOUBLE, negcell INT); callers take `-negcell` as the cell
    * id and `cos` as the centroid similarity.
    */
  private[ops] def assignCell(emb: Column, cents: Array[(Int, Seq[Float])]): Column = {
    val structs = cents.map { case (i, c) =>
      struct(cosine(emb, typedlit(c)).as("cos"), lit(-i).as("negcell"))
    }
    if (structs.length == 1) structs.head else greatest(structs: _*)
  }

  /** Coarse-quantizer centroids memoized per (dataset content, nlist):
    * shared by v3/v11 (annIvf) and v10 (ivfPqTopK) so the IVF family
    * fits KMeans once per corpus geometry.
    */
  private[ops] def memoCents(e: DataFrame, d: String, nl: Int,
      n: Long, seed: Long = 42L): Array[(Int, Seq[Float])] =
    Staged.value(e.sparkSession, "ivf_cents", d, nl, seed) {
      fitQuantizer(e, "embedding", nl, seed = seed, corpusCount = n)
    }

  /** Bucketed IVF index staging, memoized per (dataset content, nlist):
    * one partition dir per cell — probes read only theirs. nl and the
    * content fingerprint go in the dir name: two nlist configs (or two
    * generations of one dataset) are DIFFERENT indexes — sharing a path
    * would leave one memo entry pointing at the other's cells. Shared by
    * v3/v11 (annIvf) and v15 (knnGraph).
    */
  private[ops] def stagedIvfIndex(s: SparkSession, e: DataFrame, d: String,
      nl: Int, cents: Array[(Int, Seq[Float])]): String = {
    Staged.dir(s, "ivf_index", d, nl) {
      val fp = graft.Tables.datasetFingerprint(d)
      val best = assignCell(col("embedding"), cents)
      val assigned = e.select(col("vec_id"), col("embedding"),
        (lit(0) - best.getField("negcell")).as("cell"))
      val dir = graft.Tables.scratchDir(s"graft_ivf_${nl}_$fp", d)
      assigned.write.mode("overwrite").partitionBy("cell").parquet(dir)
      dir
    }
  }

  /** IVF approximate NN: sampled seeded KMeans coarse quantizer (nlist
    * cells), corpus bucketed by cell and PERSISTED partitionBy(cell) so a
    * probe prunes partitions at the scan (the ANN analogue of partition
    * pruning — `PartitionFilters` on the probe scan, pinned in the spec);
    * each query probes its nprobe nearest cells. Returns per-query
    * approximate top-k. Recall vs brute force is pinned in the spec.
    */
  def annIvf(s: SparkSession, d: String,
      numQueries: Int = 5, k: Int = 10, nlist: Int = 0, nprobe: Int = 4): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    // nlist <= 0 → size cells to the corpus (see adaptiveNlist); probes
    // then cover nprobe/nlist of the corpus, so recall-sensitive callers
    // scale nprobe alongside an explicit nlist
    val nCorpus = e.count()
    val nl = if (nlist > 0) nlist else adaptiveNlist(nCorpus)
    // fit + bucket staging memoized per (dataset, nlist): the quantizer is
    // a seeded pure function of the corpus and the staged index depends
    // only on it, so callers that sweep query-side knobs (v11's nprobe
    // curve) — or reruns — reuse ONE index build instead of refitting
    // KMeans and rewriting every cell dir per call
    val cents = memoCents(e, d, nl, nCorpus)
    if (cents.isEmpty)
      return Seq.empty[(Long, Int, Long, Double)].toDF("q_id", "rank", "n_id", "cos")
    val corpus = s.read.parquet(stagedIvfIndex(s, e, d, nl, cents))

    val centDf = cents.toSeq.toDF("cell", "centroid")
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    // nprobe nearest cells per query (tiny: queries × nlist)
    val probeW = Window.partitionBy("q_id").orderBy(desc("ccos"), asc("cell"))
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("ccos", cosine(col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select("q_id", "qv", "cell")
      .cache()
    // probed cells to the driver (≤ queries × nprobe ints) → a LITERAL
    // partition filter on the bucketed scan: only those dirs are read
    val probedCells = probes.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val pruned = corpus.filter(col("cell").isin(probedCells: _*))

    val scored = probes.join(pruned, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", cosine(col("qv"), col("embedding")))
    // bounded top-k, not a window: probed cells can hold O(corpus/nlist)
    // candidates — the aggregator keeps the rank shuffle at O(queries·k)
    graft.functions.TopK.perGroup(scored, "q_id", "cos", "vec_id", k)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"), round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** v11 — the ANN TUNING CURVE: recall@k of the IVF index against
    * exact brute force, swept over nprobe — the accuracy/cost trade
    * table every ANN deployment is tuned from (FAISS's standard
    * evaluation artifact). The index is built ONCE (the coarse fit and
    * the bucketed staging are memoized pure functions of the dataset);
    * each sweep point pays only the probe selection + cell-pruned scan,
    * which is precisely the knob the curve measures. Ground truth and
    * every approximate result are queries×k-row collects — bounded by
    * the ask, never the corpus. Rows-only (seeded KMeans has no SQL
    * twin); monotone recall and the max-probe floor are spec-pinned.
    */
  def annRecallCurve(s: SparkSession, d: String, numQueries: Int = 5,
      k: Int = 10, probeSweep: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import s.implicits._
    val exact = bruteForceTopK(s, d, numQueries, k)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.isEmpty)
      return Seq.empty[(Int, Long, Double)]
        .toDF("nprobe", "n_queries", "recall_at_k")
    val rows = probeSweep.sorted.map { p =>
      val approx = annIvf(s, d, numQueries, k, nprobe = p)
        .select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = approx.intersect(exact).size.toDouble / exact.size
      (p, numQueries.toLong, math.rint(recall * 1e6) / 1e6)
    }
    rows.toDF("nprobe", "n_queries", "recall_at_k").orderBy("nprobe")
  }

  // ---- v20: incremental IVF index maintenance ----

  /** Deterministic increment rule (p16's discipline applied to vectors):
    * vec_id % 10 == 7 is the arriving batch, the rest is the already-
    * indexed corpus.
    */
  private[ops] def v20BatchPred: Column = pmod(col("vec_id"), lit(10)) === 7

  private[ops] final case class IvfDelta(baseDir: String, deltaDir: String,
      cents: Array[(Int, Seq[Float])], nl: Int, nBase: Long, nBatch: Long)

  /** v20's index state: the BASE index (fit + staged on the existing
    * corpus only, memoized) plus a DELTA segment — the batch assigned to
    * the EXISTING centroids and written as its own cell-partitioned dir.
    * No refit, no rewrite of any base cell file: per-batch cost is one
    * narrow assignment pass over the batch plus |touched cells| new
    * files (the LSM/Lucene segment move applied to an ANN index — at
    * 100 TB a daily increment costs minutes, not the full-corpus
    * re-stage). Readers union base + delta; a real deployment compacts
    * segments on the same cadence st14 compacts day partitions.
    * `batchOverride` lets the drift spec inject a shifted batch.
    */
  private[ops] def incrementalIvfState(s: SparkSession, d: String,
      batchOverride: Option[DataFrame] = None): IvfDelta = {
    val all = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val base = all.filter(!v20BatchPred).cache()
    val batch = batchOverride.getOrElse(all.filter(v20BatchPred))
    val nBase = base.count()
    val nl = adaptiveNlist(nBase)
    // the quantizer is the BASE corpus's — the whole point: the batch
    // reuses existing geometry (memoCents seed differs from v3's so the
    // two index families never share a fit keyed on different corpora)
    val fp = graft.Tables.datasetFingerprint(d)
    val cents = Staged.value(s, "ivf_cents_v20", d, nl) {
      fitQuantizer(base, "embedding", nl, corpusCount = nBase)
    }
    val baseDir = Staged.dir(s, "ivf_v20base", d, nl) {
      val dir = graft.Tables.scratchDir(s"graft_ivf_v20base_${nl}_$fp", d)
      base.select(col("vec_id"), col("embedding"),
        (lit(0) - assignCell(col("embedding"), cents).getField("negcell"))
          .as("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      dir
    }
    // Key the delta staging on the override's CONTENT, not a fixed tag:
    // two different override batches in one JVM (e.g. two drift
    // scenarios) must not silently reuse each other's staged delta.
    val tag = batchOverride match {
      case None => "std"
      case Some(b) =>
        val h = b.select(coalesce(
            bit_xor(xxhash64(col("vec_id"), col("embedding"))), lit(0L)).as("h"))
          .head.getLong(0)
        f"ovr$h%016x"
    }
    val nBatch = batch.count()
    // An empty batch would stage a parquet dir with no data files, and
    // the later read would fail schema inference — skip the delta
    // entirely; readers treat deltaDir == "" as "no delta segment".
    val deltaDir = if (nBatch == 0) "" else
      Staged.dir(s, "ivf_v20delta", d, nl, tag) {
        val dir = graft.Tables.scratchDir(s"graft_ivf_v20delta_${nl}_${fp}_$tag", d)
        batch.select(col("vec_id"), col("embedding"),
          (lit(0) - assignCell(col("embedding"), cents).getField("negcell"))
            .as("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(dir)
        dir
      }
    IvfDelta(baseDir, deltaDir, cents, nl, nBase, nBatch)
  }

  /** Search over the appended index: v3's probe-and-prune against the
    * UNION of base and delta segments — both cell-partitioned, so the
    * literal cell filter prunes partitions in each. Spec-pinned to
    * recall parity with a from-scratch rebuild on the full corpus.
    */
  private[graft] def annIvfIncremental(s: SparkSession, d: String,
      numQueries: Int = 5, k: Int = 10, nprobe: Int = 4,
      deltaDirOverride: Option[String] = None): DataFrame = {
    import s.implicits._
    val st = incrementalIvfState(s, d)
    if (st.cents.isEmpty)
      return Seq.empty[(Long, Int, Long, Double)].toDF("q_id", "rank", "n_id", "cos")
    val deltaDir = deltaDirOverride.getOrElse(st.deltaDir)
    val baseSeg = s.read.parquet(st.baseDir)
    val corpus = if (deltaDir.isEmpty) baseSeg
      else baseSeg.unionByName(s.read.parquet(deltaDir))
    val centDf = st.cents.toSeq.toDF("cell", "centroid")
    val q = embeddings(s, d).filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val probeW = Window.partitionBy("q_id").orderBy(desc("ccos"), asc("cell"))
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("ccos", cosine(col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select("q_id", "qv", "cell")
      .cache()
    val probedCells = probes.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq
    val pruned = corpus.filter(col("cell").isin(probedCells: _*))
    val scored = probes.join(pruned, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", cosine(col("qv"), col("embedding")))
    graft.functions.TopK.perGroup(scored, "q_id", "cos", "vec_id", k)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** dq10-style PSI between a reference cell-count table and a sample
    * cell-count table (shares floored at 1e-6 so empty cells stay
    * finite). Both inputs are nlist-sized (≤ 4096 rows).
    */
  private def cellPsi(ref: DataFrame, sample: DataFrame): DataFrame = {
    val joined = ref.join(sample, Seq("cell"), "full_outer")
      .na.fill(0L, Seq("nb", "nx"))
    val totals = joined.agg(sum("nb").as("tb"), sum("nx").as("tx"))
    joined.crossJoin(broadcast(totals))
      .select(
        greatest(col("nb").cast("double") / col("tb"), lit(1e-6)).as("pa"),
        greatest(col("nx").cast("double") / col("tx"), lit(1e-6)).as("pb"))
      .agg(sum((col("pb") - col("pa")) * log(col("pb") / col("pa"))).as("psi"))
  }

  /** v20 — incremental ANN index MAINTENANCE report: the append's audit
    * row plus a PSI drift gate over cell-occupancy shares — the signal
    * that decides when accumulated increments have drifted the data
    * geometry far enough that the frozen quantizer needs a refit.
    *
    * The gate is NOISE-CALIBRATED, not a bare scorecard constant: a
    * small batch over many cells has a large PSI from multinomial
    * sampling alone (E[PSI] ≈ (k−1)(1/n_b + 1/n_a) — ~0.4 for 50
    * vectors over 16 cells with zero true drift), so the batch's PSI is
    * judged against the PSI of a same-construction in-distribution
    * CONTROL slice of the base corpus (vec_id % 10 == 3 — already
    * assigned inside the base segment, so the control costs one
    * nlist-sized aggregation, no assignment pass): refit fires iff
    * psi > max(0.25, 3·psi_control), i.e. it clears dq10's absolute
    * band AND stands well outside the corpus's own sampling noise.
    * Cell-count tables are nlist-sized (≤ 4096 rows); the only
    * corpus-scale work is the batch's one assignment pass, already
    * paid by the staging. Rows-only (seeded KMeans has no SQL twin):
    * recall parity with a full rebuild, per-batch cost ∝ batch via
    * file listing, base-segment immutability, the gate quiet on the
    * natural batch and firing on a shifted batch are all spec-pinned.
    */
  def incrementalIvfMaintenance(s: SparkSession, d: String,
      batchOverride: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val st = incrementalIvfState(s, d, batchOverride)
    if (st.cents.isEmpty)
      return Seq.empty[(Long, Long, Int, Long, Double, Double, Boolean)].toDF(
        "n_base", "n_batch", "n_cells", "cells_touched", "psi", "psi_control",
        "refit")
    if (st.nBatch == 0)
      // degrade to an explicit zero-batch report: nothing arrived, no
      // cells touched, no drift evidence, never a refit (the NaN PSI a
      // 0-total share table would produce compares > any threshold)
      return Seq((st.nBase, 0L, st.cents.length, 0L, 0.0, 0.0, false)).toDF(
        "n_base", "n_batch", "n_cells", "cells_touched", "psi", "psi_control",
        "refit")
    val baseSeg = s.read.parquet(st.baseDir).cache()
    val baseCounts = baseSeg.groupBy("cell").agg(count(lit(1)).as("nb"))
    val batchCounts = s.read.parquet(st.deltaDir)
      .groupBy("cell").agg(count(lit(1)).as("nx"))
    val controlCounts = baseSeg.filter(pmod(col("vec_id"), lit(10)) === 3)
      .groupBy("cell").agg(count(lit(1)).as("nx"))
    val psiBatch = cellPsi(baseCounts, batchCounts)
    val psiControl = cellPsi(baseCounts, controlCounts)
      .select(col("psi").as("psi_control"))
    val touched = batchCounts.agg(count(lit(1)).as("cells_touched"))
    psiBatch.crossJoin(broadcast(psiControl)).crossJoin(broadcast(touched))
      .select(
        lit(st.nBase).as("n_base"), lit(st.nBatch).as("n_batch"),
        lit(st.cents.length).as("n_cells"), col("cells_touched"),
        round(col("psi"), 4).as("psi"),
        round(col("psi_control"), 4).as("psi_control"),
        (col("psi") > greatest(lit(0.25), lit(3.0) * col("psi_control")))
          .as("refit"))
  }

  // ---- st24: STREAMING vector ingest into the v20 incremental index ----

  /** Scratch delta dir the stream writes; exposed for the parity spec. */
  private[graft] def streamDeltaDir(d: String): String =
    graft.Tables.scratchDir("graft_st24_delta", d)

  /** st24 — STREAMING vector ingest: v20's delta-segment append as a
    * Structured Streaming pipeline, closing the st × v family
    * composition (real corpora arrive as streams). The arriving batch
    * (v20's increment rule) is staged as a multi-file stream source;
    * `maxFilesPerTrigger=1` makes each file its own micro-batch, and
    * `foreachBatch` runs the EXACT v20 append per batch: assign the
    * batch's vectors to the FROZEN base centroids (no refit — the
    * batch reuses existing geometry), append them as that batch's own
    * cell-partitioned delta segment files (LSM discipline: base files
    * immutable, each micro-batch adds its own segment), and evaluate
    * the noise-calibrated PSI drift gate against the base occupancy —
    * the per-batch decision a live ingest pipeline actually makes.
    *
    * Per-batch state is bounded: the assignment is one narrow pass
    * over the batch, the gate arithmetic reads two nlist-sized count
    * tables, and the ledger row is 5 scalars. The declared result is
    * the ingest LEDGER (one row per micro-batch, ordered by batch
    * content — `first_vec`, the batch's min vec_id — so arrival order
    * can't perturb the output). Rows-only (the cell geometry is a
    * seeded KMeans fit): the spec pins stream ≡ batch — the streamed
    * delta holds exactly v20's (vec_id, cell) assignment and the
    * search over base + streamed delta returns v20's results
    * bit-for-bit — plus per-batch segment isolation.
    */
  def streamingVectorIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val st = incrementalIvfState(s, d)
    if (st.cents.isEmpty || st.nBatch == 0)
      return Seq.empty[(Long, Long, Long, Double, Boolean)]
        .toDF("first_vec", "n_batch", "cells_touched", "psi", "refit")
    val cents = st.cents
    val baseSeg = s.read.parquet(st.baseDir)
    val baseCounts = baseSeg.groupBy("cell").agg(count(lit(1)).as("nb")).cache()
    // v20's noise calibration: the gate threshold comes from an
    // in-distribution control slice of the base corpus (already
    // assigned inside the base segment)
    val psiControl = cellPsi(baseCounts,
      baseSeg.filter(pmod(col("vec_id"), lit(10)) === 3)
        .groupBy("cell").agg(count(lit(1)).as("nx")))
      .head().getDouble(0)
    val thresh = math.max(0.25, 3.0 * psiControl)

    // stage the arriving vectors as a multi-file stream source (4 slices)
    val srcDir = graft.Tables.scratchDir("graft_st24_src", d)
    embeddings(s, d).filter(v20BatchPred)
      .withColumn("slice", pmod(col("vec_id"), lit(4)).cast("int"))
      .repartitionByRange(4, col("slice"))
      .write.mode("overwrite").parquet(srcDir)
    val srcSchema = s.read.parquet(srcDir).schema
    val deltaDir = streamDeltaDir(d)
    val ckpt = graft.Tables.scratchDir("graft_st24_ckpt", d)
    // fresh run: clear the accumulated segments and the source ledger
    val hconf = s.sparkContext.hadoopConfiguration
    Seq(deltaDir, ckpt).foreach { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(hconf).delete(path, true)
    }
    val ledger =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double, Boolean)]
    val q = s.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          val assigned = b.select(col("vec_id"), col("embedding"),
            (lit(0) - assignCell(col("embedding"), cents).getField("negcell"))
              .as("cell")).cache()
          // this micro-batch's own delta segment (append = new files only)
          assigned.write.mode("append").partitionBy("cell").parquet(deltaDir)
          val cellCounts = assigned.groupBy("cell").agg(count(lit(1)).as("nx"))
          val psi = cellPsi(baseCounts, cellCounts).head().getDouble(0)
          val head = assigned.agg(min("vec_id"), count(lit(1)),
            countDistinct("cell")).head()
          ledger.add((head.getLong(0), head.getLong(1), head.getLong(2),
            math.rint(psi * 1e4) / 1e4, psi > thresh))
          assigned.unpersist(blocking = false)
        }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    baseCounts.unpersist(blocking = false)
    import scala.jdk.CollectionConverters._
    ledger.asScala.toSeq.sortBy(_._1)
      .toDF("first_vec", "n_batch", "cells_touched", "psi", "refit")
  }

  /** v13's intermediate surfaces, exposed so the spec can count the
    * probe scan before and after the metadata filter bites.
    */
  private[ops] final case class FilteredAnn(
      result: DataFrame, pruned: DataFrame, filtered: DataFrame)

  /** v13 — FILTERED ANN at INDEX level: v12's metadata predicate
    * composed WITH v3's IVF partition pruning instead of requiring the
    * exact scan. The staged index carries the document's metadata
    * column next to (vec_id, cell, embedding) — pay the layout once —
    * so a filtered query prunes TWICE: partition pruning reads only
    * its nprobe cell dirs (same `PartitionFilters` as v3, spec-pinned)
    * and the predicate applies as a plain column filter INSIDE the
    * pruned scan, before any dot product (prune-then-filter-then-
    * score; parquet row-group stats can skip qualifying-free groups
    * for free). k underfills only when the probed cells genuinely hold
    * fewer than k qualifying vectors — that coverage trade is exactly
    * what the spec measures against v12's exact filtered ground truth.
    * Rows-only (seeded KMeans has no SQL twin); recall vs v12 and the
    * filter's scored-row reduction vs the unfiltered probe scan are
    * spec-pinned.
    */
  private[ops] def filteredAnnCore(s: SparkSession, d: String, lang: String,
      numQueries: Int, k: Int, nlist: Int, nprobe: Int): FilteredAnn = {
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    val nCorpus = e.count()
    val nl = if (nlist > 0) nlist else adaptiveNlist(nCorpus)
    val cents = memoCents(e, d, nl, nCorpus)
    val empty = Seq.empty[(Long, Int, Long, Double)]
      .toDF("q_id", "rank", "n_id", "cos")
    if (cents.isEmpty) return FilteredAnn(empty, empty, empty)
    val best = assignCell(col("embedding"), cents)
    // a DIFFERENT staged dir than v3's: the filtered index row carries
    // the metadata column, and sharing v3's path would serve one
    // schema to the other memo entry
    val bucketDir = Staged.dir(s, "ivf_filtered", d, nl) {
      val meta = documents(s, d).select(col("doc_id").as("vec_id"), col("lang"))
      val dir = graft.Tables.scratchDir(
        s"graft_ivff_${nl}_${graft.Tables.datasetFingerprint(d)}", d)
      e.select(col("vec_id"), col("embedding"),
          (lit(0) - best.getField("negcell")).as("cell"))
        .join(meta, Seq("vec_id"), "left")
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      dir
    }
    val corpus = s.read.parquet(bucketDir)
    val centDf = cents.toSeq.toDF("cell", "centroid")
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val probeW = Window.partitionBy("q_id").orderBy(desc("ccos"), asc("cell"))
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("ccos", cosine(col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select("q_id", "qv", "cell")
      .cache()
    val probedCells = probes.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq
    if (probedCells.isEmpty) return FilteredAnn(empty, empty, empty)
    val pruned = corpus.filter(col("cell").isin(probedCells: _*))
    val filtered = pruned.filter(col("lang") === lang)
    val scored = probes.join(filtered, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", cosine(col("qv"), col("embedding")))
    val topk = graft.functions.TopK.perGroup(scored, "q_id", "cos", "vec_id", k)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rank")
    FilteredAnn(topk, pruned, filtered)
  }

  def filteredAnnIvf(s: SparkSession, d: String, lang: String = "en",
      numQueries: Int = 5, k: Int = 10, nlist: Int = 0,
      nprobe: Int = 4): DataFrame =
    filteredAnnCore(s, d, lang, numQueries, k, nlist, nprobe).result

  /** Elementwise centroid per label (posexplode → grouped avg): the
    * "average embedding" building block for clustering/analysis.
    */
  def centroidByLabel(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(round(avg(col("v").cast("double")), 6).as("mean_v"))
      .orderBy("label", "dim")

  /** Int8 scalar quantization — the standard 4× memory cut for serving
    * embeddings at 100 TB (float32 → int8 + one float scale per vector).
    * Per-vector symmetric quantization: scale = max|x|/127, code =
    * round-half-up(x/scale) clamped to [-127,127]; the declared result
    * reports, per vector, the cosine between the original and its
    * dequantized self plus the max absolute reconstruction error — the
    * quality numbers that justify (or veto) serving from int8. All
    * narrow codegen'd array ops, no shuffle before the output sort.
    * Rounding uses floor(x+0.5) explicitly: `round()`'s half-up-vs-
    * banker's semantics differ across engines, floor doesn't.
    */
  def int8Quantization(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), v => v.cast("double")).as("x"))
      .withColumn("scale",
        greatest(
          aggregate(col("x"), lit(0.0), (a, v) => greatest(a, abs(v))) / 127.0,
          lit(1e-30))) // zero vector: keep the divide total, codes all 0
      .withColumn("dq", transform(col("x"), v =>
        greatest(lit(-127.0), least(lit(127.0),
          floor(v / col("scale") + 0.5))) * col("scale")))
      .withColumn("dot_xd",
        aggregate(zip_with(col("x"), col("dq"), (a, b) => a * b),
          lit(0.0), (acc, v) => acc + v))
      .withColumn("nx",
        sqrt(aggregate(transform(col("x"), v => v * v), lit(0.0), (a, v) => a + v)))
      .withColumn("nd",
        sqrt(aggregate(transform(col("dq"), v => v * v), lit(0.0), (a, v) => a + v)))
      .withColumn("max_err",
        aggregate(zip_with(col("x"), col("dq"), (a, b) => abs(a - b)),
          lit(0.0), (a, v) => greatest(a, v)))
      .select(col("vec_id"),
        round(col("dot_xd") / (col("nx") * col("nd")), 6).as("cos_dq"),
        round(col("max_err"), 6).as("max_abs_err"))
      .orderBy("vec_id")

  /** v7 — MMR (maximal marginal relevance) diversified top-k: greedily
    * re-rank each query's candidate pool so every pick balances
    * relevance against redundancy with what's already picked
    * (score = λ·rel − (1−λ)·max-sim-to-selected). The de-duplication
    * knob for retrieval and for diverse training-example selection —
    * plain top-k happily returns k near-copies. Distributed shape: the
    * candidate pool per query is the bounded TopK aggregation (shuffle
    * O(queries·pool·partitions), like v2); the greedy — genuinely
    * iterative, no builtin expresses it — runs per query group over ≤
    * pool rows via flatMapGroups, so the imperative part touches
    * queries×pool rows, never the corpus. λ=1 degenerates to exact
    * top-k order (pinned in SimilaritySpec, along with the diversity
    * gain at λ=0.5). Relevance and pairwise sims are rounded to 6dp
    * before the greedy so the trace is reproducible across layouts —
    * which also makes the whole greedy DuckDB-replayable: fully
    * oracled since round 11 via a recursive CTE (per-step argmax over
    * the remaining pool, redundancy from a pool-pair cosine table).
    */
  def mmrDiversifiedTopK(s: SparkSession, d: String, numQueries: Int = 5,
      poolSize: Int = 20, k: Int = 5, lambda: Double = 0.5): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", round(cosine(col("qv"), col("nv")), 6))
    val pool = graft.functions.TopK.perGroup(scored, "q_id", "cos", "n_id", poolSize)
      .join(c, "n_id")
      .select(col("q_id"), col("n_id"), col("cos").as("rel"), col("nv"))
      .as[(Long, Long, Double, Array[Float])]
    def cosArr(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      math.round(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    pool.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cands = it.toArray.sortBy(x => (-x._3, x._2)) // rel desc, id asc
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double, Array[Float])]
      while (sel.length < k && sel.length < cands.length) {
        val remaining = cands.filter(x => !sel.exists(_._1 == x._2))
        val best = remaining.map { x =>
          val red = if (sel.isEmpty) 0.0 else sel.map(s => cosArr(s._4, x._4)).max
          val mmr = math.round((lambda * x._3 - (1 - lambda) * red) * 1e6) / 1e6
          (x._2, x._3, mmr, x._4)
        }.minBy(x => (-x._3, x._1)) // mmr desc, id asc
        sel += best
      }
      sel.iterator.zipWithIndex.map { case ((nid, rel, mmr, _), i) =>
        (qid, i + 1, nid, rel, mmr)
      }
    }.toDF("q_id", "rank", "n_id", "rel", "mmr")
      .orderBy("q_id", "rank")
  }

  /** v8 — quantized-then-rescored top-k: score the WHOLE corpus in the
    * int8 domain (v6's symmetric quantization: dot ≈ scaleq·scalec·
    * ⟨codes⟩), keep a pool-deep candidate set per query, then
    * exact-rescore ONLY the pool in fp and return the true-metric
    * top-k. The int8 layout is REAL, not conceptual: codes are a
    * BinaryType block — one signed byte per dimension, ¼ the bytes of
    * fp32 — packed by the codegen'd [[graft.functions.Int8Pack]], and
    * the scan kernel is [[graft.functions.Int8Dot]], a pure integer
    * multiply-add loop over two byte[] accumulated in long. Integer
    * dots up to 2⁵³ are exact in either domain, so scores are
    * bit-identical to the superseded ARRAY<DOUBLE> formulation (pinned
    * in ArraySimSpec). Full-precision vectors are touched for
    * pool·queries rows, never the corpus. Same bounded-TopK shuffle
    * discipline as v2 in both phases. Fully DuckDB-oracled since round
    * 11: the symmetric quantization is pure arithmetic, so the oracle
    * replays quantize, int-dot scan, pool, and exact rescore; recall@k
    * against exact v2 additionally pinned in SimilaritySpec.
    */
  def quantizedTopK(s: SparkSession, d: String, numQueries: Int = 5,
      k: Int = 10, pool: Int = 30): DataFrame = {
    val e = embeddings(s, d)
    def quant(v: Column): Column = {
      val x = transform(v, f => f.cast("double"))
      val scale = greatest(
        aggregate(x, lit(0.0), (a, u) => greatest(a, abs(u))) / 127.0,
        lit(1e-30))
      struct(scale.as("s"),
        graft.functions.ArraySim.int8Pack(v, scale).as("c"))
    }
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), quant(col("embedding")).as("qq"))
    val c = e.select(col("vec_id").as("n_id"), quant(col("embedding")).as("cq"))
    val approx = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("ascore",
        col("qq.s") * col("cq.s") *
          graft.functions.ArraySim.int8Dot(col("qq.c"), col("cq.c"))
            .cast("double"))
    val cand = graft.functions.TopK.perGroup(approx, "q_id", "ascore", "n_id", pool)
    val full = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val qf = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val rescored = cand.join(full, "n_id").join(broadcast(qf), "q_id")
      .withColumn("cos", cosine(col("qv"), col("nv")))
    graft.functions.TopK.perGroup(rescored, "q_id", "cos", "n_id", k)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** v9 — product quantization + ADC top-k (the IVF-PQ compression
    * half): the NORMALIZED corpus is split into `m` subvectors, each
    * subvector quantized against its own `codebook`-entry codebook
    * (seeded KMeans on the v3-style hash-de-biased sample, one fit per
    * subvector — driver cost m·codebook·dim/m, corpus never converted
    * to VectorUDT), and every vector stored as m SMALL CODES —
    * m·log₂(codebook)/8 bytes instead of 4·dim, a 5-byte sketch of a
    * 256-byte vector here (m=8, 32-entry codebooks → 8 five-bit
    * codes). Scoring is asymmetric distance computation:
    * each query precomputes its m×codebook table of subvector dots
    * (driver-sized), and a corpus row's approximate cosine is m lookups
    * summed in a codegen'd array fold — no float vector is touched in
    * the scan. Candidates pool-deep per query are exact-rescored in fp
    * (v8's discipline: the true metric orders the final k). Encode
    * argmin is greatest-of-structs over native dot kernels — no UDF on
    * the corpus path. Rows-only (three stacked approximations have no
    * SQL twin); recall@10 vs exact v2 and the code-size claim are
    * pinned in SimilaritySpec.
    */
  // unit-normalize so ADC approximates COSINE directly (subvector dots
  // of normalized vectors sum to the full cosine)
  private def pqNormalize(emb: Column): Column = {
    val nrm = sqrt(aggregate(emb,
      lit(0.0), (a, v) => a + v.cast("double") * v.cast("double")))
    transform(emb, v => v.cast("double") / greatest(nrm, lit(1e-12)))
  }

  /** Plain Lloyd's iterations on a driver-resident sample. The PQ
    * codebooks are per-SUBVECTOR models over a ≤50k-row sample — tiny
    * (50k × sub doubles) — so fitting them as 8 distributed MLlib jobs
    * pays ~8 × job-scheduling + kmeans|| init overhead to move
    * kilobytes; measured at sf0.1 that overhead was ~45% of the whole
    * 200-query bench (v9+v10 ≈ 170 s each). One driver loop is
    * milliseconds, exactly seeded, and its cost is INDEPENDENT of
    * corpus size because the sample is hash-bounded. (v3's coarse
    * quantizer keeps MLlib: full-dim vectors, nlist up to 4096.)
    */
  private def lloyd(points: Array[Array[Double]], k: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    val n = points.length
    val dim = points(0).length
    val rnd = new scala.util.Random(seed)
    var cents = rnd.shuffle(points.indices.toVector).take(k)
      .map(i => points(i).clone).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length, dim)(0.0)
      val cnts = new Array[Long](cents.length)
      points.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cents.length) {
          var d2 = 0.0; var i = 0
          while (i < dim) { val t = p(i) - cents(c)(i); d2 += t * t; i += 1 }
          if (d2 < bd) { bd = d2; best = c }
          c += 1
        }
        cnts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      cents = Array.tabulate(cents.length)(c =>
        if (cnts(c) > 0) sums(c).map(_ / cnts(c)) else cents(c))
    }
    cents
  }

  /** Fits `m` per-subvector codebooks on a hash-de-biased sample (v3's
    * discipline — membership is a pure function of the row, never
    * partition order; the collected sample is sorted so the seeded fit
    * is deterministic across runs and layouts). Memoized per
    * (dataset, geometry): v9, v10 and the code dump share ONE fit.
    * None ⇔ the sample is empty.
    */
  private def pqFit(e: DataFrame, d: String, n: Long, sub: Int, m: Int,
      codebook: Int, seed: Long): Option[Array[Array[Array[Double]]]] =
    Staged.value(e.sparkSession, "pq_fit", d, sub, m, codebook, seed) {
      val hashMod = math.max(1L, n / 50000)
      val hashed = e
        .filter(pmod(xxhash64(col("embedding")), lit(hashMod)) === 0)
        .limit(50000)
        .select(pqNormalize(col("embedding")).as("nv"))
      var rows = hashed.collect()
      // degenerate corpora can hash entirely into a nonzero residue
      // class — fall back to the prefix rather than fitting on nothing
      if (rows.isEmpty && n > 0)
        rows = e.limit(50000)
          .select(pqNormalize(col("embedding")).as("nv")).collect()
      if (rows.isEmpty) None
      else {
        val sample = rows.map(_.getSeq[Double](0).toArray)
        // deterministic fit input: order by content, not arrival
        java.util.Arrays.sort(sample, (a: Array[Double], b: Array[Double]) => {
          var i = 0
          while (i < a.length && a(i) == b(i)) i += 1
          if (i == a.length) 0 else java.lang.Double.compare(a(i), b(i))
        })
        Some((0 until m).map { j =>
          val pts = sample.map(_.slice(j * sub, (j + 1) * sub))
          if (pts.length == 1) Array(pts(0))
          else lloyd(pts, math.min(codebook, pts.length), iters = 8,
            seed = seed + j)
        }.toArray)
      }
    }

  // encode: per subvector, argmax of 2⟨x̂,c⟩ − ‖c‖² (≡ argmin ‖x̂−c‖²).
  // `nv` MUST be a materialized (cached/attribute) normalized column,
  // not an expression: the argmax references it codebook×m times, and
  // an inlined normalize fold would recompute per reference — the
  // CollapseProject trap minhashLshPairs documents.
  private def pqEncode(codebooks: Array[Array[Array[Double]]], m: Int,
      sub: Int)(nv: Column): Column = {
    array((0 until m).map { j =>
      val xs = slice(nv, j * sub + 1, sub)
      val structs = codebooks(j).zipWithIndex.map { case (c, i) =>
        val dotc = aggregate(zip_with(xs, typedlit(c.toSeq),
          (a, b) => a * b), lit(0.0), (a, v) => a + v)
        struct((dotc * 2 - lit(c.map(x => x * x).sum)).as("score"),
          lit(-i).as("negcode"))
      }
      val best =
        if (structs.length == 1) structs.head else greatest(structs: _*)
      (-best.getField("negcode")).cast("int")
    }: _*)
  }

  /** Staged per-vector PQ codes (`vec_id`, `codes: array<int>`) as a
    * parquet dir, memoized per (dataset content, geometry, seed) — the
    * bucketDir discipline applied to the ENCODE: the argmax over
    * m×codebook subvector dots is the expensive half of every PQ
    * consumer, and it is a pure function of (corpus, codebooks), so v9,
    * v10's index build, and the code dump pay it ONCE; later consumers
    * pay only a 5-byte-per-vector scan.
    */
  private def pqCodesStage(s: SparkSession, e: DataFrame, d: String,
      cbs: Array[Array[Array[Double]]], m: Int, sub: Int, codebook: Int,
      seed: Long): String = {
    Staged.dir(s, "pq_codes", d, m, codebook, seed) {
      val fp = graft.Tables.datasetFingerprint(d)
      val dir = graft.Tables.scratchDir(
        s"graft_pqcodes_${m}_${codebook}_${seed}_$fp", d)
      e.select(col("vec_id"), pqNormalize(col("embedding")).as("nv"))
        .select(col("vec_id"), pqEncode(cbs, m, sub)(col("nv")).as("codes"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
  }

  /** Per-vector PQ code arrays (`n_id`, `codes: array<int>`) — the
    * compressed representation v9 scans; exposed so the spec can pin
    * every code into [0, codebook).
    */
  def pqCodes(s: SparkSession, d: String, m: Int = 8, codebook: Int = 32,
      seed: Long = 42L): DataFrame = {
    val e = embeddings(s, d)
    val n = e.count()
    val empty = e.select(col("vec_id").as("n_id"),
      array(lit(0)).as("codes")).limit(0)
    if (n == 0) return empty
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subvectors")
    val sub = dim / m
    pqFit(e, d, n, sub, m, codebook, seed) match {
      case None => empty
      case Some(cbs) =>
        s.read.parquet(pqCodesStage(s, e, d, cbs, m, sub, codebook, seed))
          .select(col("vec_id").as("n_id"), col("codes"))
    }
  }

  /** Per-query ADC tables: each query's m×codebook matrix of subvector
    * dots against every codebook entry — (queries · m · codebook)
    * doubles, driver-sized regardless of corpus size.
    */
  private def pqQueryLuts(e: DataFrame, numQueries: Int,
      codebooks: Array[Array[Array[Double]]], m: Int,
      sub: Int): Seq[(Long, Seq[Seq[Double]])] =
    e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), pqNormalize(col("embedding")).as("nv"))
      .collect()
      .map { r =>
        val qv = r.getSeq[Double](1)
        val lut = (0 until m).map { j =>
          val qs = qv.slice(j * sub, (j + 1) * sub)
          codebooks(j).map(c => c.zip(qs).map { case (a, b) => a * b }.sum).toSeq
        }
        (r.getLong(0), lut)
      }.toSeq

  def pqTopK(s: SparkSession, d: String, numQueries: Int = 5, k: Int = 10,
      pool: Int = 100, m: Int = 8, codebook: Int = 32,
      seed: Long = 42L): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val n = e.count()
    val empty = e.select(col("vec_id").as("q_id"), lit(1).as("rank"),
      col("vec_id").as("n_id"), lit(0.0).as("cos")).limit(0)
    if (n == 0) return empty
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subvectors")
    val sub = dim / m
    val codebooks: Array[Array[Array[Double]]] =
      pqFit(e, d, n, sub, m, codebook, seed) match {
        case None      => return empty
        case Some(cbs) => cbs
      }
    // staged codes, not a per-query re-encode: the round-7 cost audit
    // measured v9+v10 each paying the full corpus argmax — the memoized
    // stage makes every consumer after the first pay only the scan
    val coded = s.read
      .parquet(pqCodesStage(s, e, d, codebooks, m, sub, codebook, seed))
      .select(col("vec_id").as("n_id"), col("codes"))
    val qRows = pqQueryLuts(e, numQueries, codebooks, m, sub)
    if (qRows.isEmpty) return empty
    val q = qRows.toDF("q_id", "lut")
    val approx = coded.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("ascore",
        aggregate(zip_with(col("codes"), col("lut"),
          (c, row) => element_at(row, c + 1)), lit(0.0), (a, v) => a + v))
    val cand = graft.functions.TopK.perGroup(approx, "q_id", "ascore", "n_id", pool)
    val full = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val qf = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val rescored = cand.join(full, "n_id").join(broadcast(qf), "q_id")
      .withColumn("cos", cosine(col("qv"), col("nv")))
    graft.functions.TopK.perGroup(rescored, "q_id", "cos", "n_id", k)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** v10 — the full IVF-PQ index (v3 × v9): the corpus is bucketed by
    * v3's coarse quantizer cell AND stored as v9's PQ codes — the
    * persisted index row is (vec_id, codes, cell), 5 bytes of payload
    * per vector, with NO float column anywhere in the index. A query
    * therefore pays BOTH reductions multiplicatively: partition pruning
    * reads only its nprobe/nlist cell directories (pinned via
    * `PartitionFilters`, like v3), and inside a probed cell the scan is
    * ADC lookups over 5-byte codes instead of 256-byte fp32 dots
    * (pinned: the index schema HAS no embedding column). At 100 TB of
    * fp32 vectors the index is ~2 TB, and a probe touches
    * nprobe/nlist of THAT — the FAISS IVFPQ layout re-expressed as
    * partitioned parquet + codegen'd column expressions. Exact fp
    * rescoring of the pool-deep candidates joins back to the float
    * table by vec_id — pool·queries rows, never the corpus. Rows-only
    * (three stacked approximations); clustered-data recall, isotropic
    * floor, index-has-no-floats, and partition pruning are spec-pinned.
    */
  def ivfPqTopK(s: SparkSession, d: String, numQueries: Int = 5, k: Int = 10,
      nlist: Int = 0, nprobe: Int = 8, pool: Int = 100, m: Int = 8,
      codebook: Int = 32, seed: Long = 42L): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    val n = e.count()
    val empty = e.select(col("vec_id").as("q_id"), lit(1).as("rank"),
      col("vec_id").as("n_id"), lit(0.0).as("cos")).limit(0)
    if (n == 0) return empty
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subvectors")
    val sub = dim / m
    val nl = if (nlist > 0) nlist else adaptiveNlist(n)
    val cents = memoCents(e, d, nl, n)
    if (cents.isEmpty) return empty
    val codebooks = pqFit(e, d, n, sub, m, codebook, seed) match {
      case None      => return empty
      case Some(cbs) => cbs
    }
    // the persisted index: codes + cell only — the float vector never
    // enters the index, so probe scans move 5-byte rows. Memoized like
    // v3's bucketDir, and BUILT FROM the staged code table (join by
    // vec_id + the cell argmax) so the expensive PQ encode is shared
    // with v9 rather than re-run per index build.
    val indexDir = Staged.dir(s, "ivfpq_index", d, nl, m, codebook, seed) {
      val dir = graft.Tables.scratchDir(s"graft_ivfpq_${nl}_${m}_${codebook}_${seed}_" +
        graft.Tables.datasetFingerprint(d), d)
      val codes = s.read
        .parquet(pqCodesStage(s, e, d, codebooks, m, sub, codebook, seed))
      e.select(col("vec_id"),
          (lit(0) - assignCell(col("embedding"), cents)
            .getField("negcell")).as("cell"))
        .join(codes, "vec_id")
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      dir
    }
    val index = s.read.parquet(indexDir)

    // nprobe nearest cells per query (tiny: queries × nlist)
    val centDf = cents.toSeq.toDF("cell", "centroid")
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val probeW = Window.partitionBy("q_id").orderBy(desc("ccos"), asc("cell"))
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("ccos", cosine(col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select("q_id", "cell")
      .cache()
    // probed cells → a LITERAL partition filter on the index scan
    val probedCells = probes.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq
    if (probedCells.isEmpty) return empty
    val pruned = index.filter(col("cell").isin(probedCells: _*))

    val qLuts = pqQueryLuts(e, numQueries, codebooks, m, sub)
    val lut = qLuts.toDF("q_id", "lut")
    val scored = probes.join(pruned, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .join(broadcast(lut), "q_id")
      .withColumn("ascore",
        aggregate(zip_with(col("codes"), col("lut"),
          (c, row) => element_at(row, c + 1)), lit(0.0), (a, v) => a + v))
    val cand = graft.functions.TopK.perGroup(scored, "q_id", "ascore", "vec_id", pool)
    // exact rescore: pool·queries candidate rows rejoin the FLOAT table
    val full = e.select(col("vec_id"), col("embedding").as("nv"))
    val rescored = cand.join(full, "vec_id").join(broadcast(q), "q_id")
      .withColumn("cos", cosine(col("qv"), col("nv")))
    graft.functions.TopK.perGroup(rescored, "q_id", "cos", "vec_id", k)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** v15 — corpus-wide kNN GRAPH from the IVF index: EVERY vector, not
    * a bounded query slice, gets its approximate k nearest neighbors —
    * the neighbor-graph artifact that seeds graph clustering,
    * NN-Descent refinement, HNSW construction, and graph-based dedup
    * (d9's pair graph is its threshold cousin; SemDeDup's clusters are
    * its coarse view). The exact graph is inherently quadratic; this is
    * the linear-cost standard approximation: each vector scores only
    * the members of its own nprobe nearest cells.
    *
    * Shape at scale: probe-cell selection is the bounded TopK
    * aggregator over the n×nlist centroid grid (the same cost class as
    * the index assignment itself; the shuffle after it is O(n·nprobe),
    * never O(n·nlist)); candidate generation is ONE hash join of the
    * probe list with the bucketed index on cell — skew bounded by
    * adaptiveNlist's cell sizing; per-node top-k is again the bounded
    * aggregator, so the rank shuffle carries O(n·k) pairs. The staged
    * index is the memoized one v3/v11 already built — the graph costs
    * no new index. Rows-only (seeded KMeans has no SQL twin); the spec
    * pins ≥0.9 edge recall vs the exact graph on planted clusters,
    * well-formedness, and rerun determinism.
    */
  def knnGraph(s: SparkSession, d: String, k: Int = 5, nprobe: Int = 2): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    val nCorpus = e.count()
    val nl = adaptiveNlist(nCorpus)
    val cents = memoCents(e, d, nl, nCorpus)
    if (cents.isEmpty)
      return Seq.empty[(Long, Int, Long, Double)].toDF("src", "rank", "dst", "cos")
    val corpus = s.read.parquet(stagedIvfIndex(s, e, d, nl, cents))
    val centDf = cents.toSeq.toDF("cell", "centroid")
    val cellScores = e.crossJoin(broadcast(centDf))
      .withColumn("ccos", cosine(col("embedding"), col("centroid")))
    val probes = graft.functions.TopK
      .perGroup(cellScores, "vec_id", "ccos", "cell", nprobe)
      .select(col("vec_id").as("src"), col("cell").cast("int").as("cell"))
      .join(e.select(col("vec_id").as("src"), col("embedding").as("sv")), "src")
    val scored = probes.join(corpus, "cell")
      .filter(col("src") =!= col("vec_id"))
      .withColumn("cos", cosine(col("sv"), col("embedding")))
    graft.functions.TopK.perGroup(scored, "src", "cos", "vec_id", k)
      .select(col("src"), col("rank"), col("vec_id").as("dst"),
        round(col("cos"), 6).as("cos"))
      .orderBy("src", "rank")
  }

  /** v21 — GRAPH-search ANN serving (the flat-NSW beam search at the
    * heart of HNSW — Malkov & Yashunin 2018, single-layer form): the
    * engine's graph-ANN story closes serve-side — v15 BUILDS the kNN
    * graph, v16 REFINES it, v21 answers queries from it. Entry points
    * come from the IVF index (the coarse routing HNSW's upper layers
    * provide — here the memoized quantizer already built): the query's
    * nprobe-cell candidates are scored exactly and the best `ef` form
    * the beam; each round then expands the beam's members' graph
    * neighbors (undirected view), scores the newcomers exactly, and
    * keeps the best `ef` of the union. Graph edges cross cell
    * boundaries, so expansion recovers exactly the neighbors cell
    * pruning loses — and because every candidate is EXACTLY scored and
    * the pool only ever grows, the final top-k's per-rank score (and
    * its recall, modulo score ties) is provably ≥ plain IVF's at the
    * same nprobe. That containment theorem is the spec's anchor.
    *
    * Shape at scale: the beam table is O(queries·ef) rows, each round
    * is one hash join with the O(n·k) edge list plus one with the
    * embedding table (both on vector id), and every rank cut is the
    * bounded TopK aggregator — no windows, no unbounded state. Rounds
    * are fixed (the HNSW stop rule made dataflow-friendly), so cost is
    * rounds × bounded joins regardless of corpus size. Rows-only
    * (seeded KMeans has no SQL twin).
    */
  def graphSearchTopK(s: SparkSession, d: String, numQueries: Int = 5,
      k: Int = 10, nprobe: Int = 1, ef: Int = 32, rounds: Int = 2): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    val nCorpus = e.count()
    val nl = adaptiveNlist(nCorpus)
    val cents = memoCents(e, d, nl, nCorpus)
    if (cents.isEmpty)
      return Seq.empty[(Long, Int, Long, Double)].toDF("q_id", "rank", "n_id", "cos")
    val corpus = s.read.parquet(stagedIvfIndex(s, e, d, nl, cents))
    val centDf = cents.toSeq.toDF("cell", "centroid")
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")).cache()
    val probeW = Window.partitionBy("q_id").orderBy(desc("ccos"), asc("cell"))
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("ccos", cosine(col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select("q_id", "qv", "cell")
    val probedCells = probes.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq
    val seeds = probes.join(corpus.filter(col("cell").isin(probedCells: _*)), "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", cosine(col("qv"), col("embedding")))
      .select("q_id", "vec_id", "cos")
    val entry = graft.functions.TopK.perGroup(seeds, "q_id", "cos", "vec_id", ef)
      .select("q_id", "vec_id", "cos").localCheckpoint()
    // undirected neighbor view of the memoized kNN graph: an edge is
    // followable from either endpoint (NSW's search graph)
    val g0 = knnGraph(s, d).select(col("src"), col("dst"))
    val und = g0.union(g0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    val beam = Iterate("graphSearchTopK", entry, rounds)((beam, _) =>
      Some(beamRound(beam, und, e, q, ef)))
    graft.functions.TopK.perGroup(beam, "q_id", "cos", "vec_id", k)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** One beam round of the graph searches (v21, v22): expand the beam's
    * members over the undirected graph `und` (src, dst), score the
    * newcomers from `e` (vec_id, embedding) exactly against the queries
    * `q` (q_id, qv), and keep the best `width` per query of the pool —
    * beam ∪ neighbors, deduped, so the pool only grows.
    */
  private def beamRound(beam: DataFrame, und: DataFrame, e: DataFrame,
      q: DataFrame, width: Int): DataFrame = {
    val expand = beam.select(col("q_id"), col("vec_id").as("src"))
      .join(und, "src")
      .select(col("q_id"), col("dst").as("vec_id")).distinct()
      .join(e.select(col("vec_id"), col("embedding").as("nv")), "vec_id")
      .join(broadcast(q), "q_id")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
      .select("q_id", "vec_id", "cos")
    val pool = beam.unionByName(expand)
      .groupBy("q_id", "vec_id").agg(max("cos").as("cos"))
    graft.functions.TopK.perGroup(pool, "q_id", "cos", "vec_id", width)
      .select("q_id", "vec_id", "cos")
  }

  /** Deterministic exponential HNSW level: P(level ≥ ℓ) = 4^-ℓ via the
    * id hash (no RNG — rerun- and engine-stable), capped at `maxL`.
    */
  private[graft] def hnswLevel(maxL: Int): Column = {
    val h = abs(xxhash64(col("vec_id")))
    (1 to maxL).foldLeft(lit(0)) { (acc, l) =>
      when(pmod(h, lit(math.pow(4, l).toLong)) === 0, lit(l)).otherwise(acc)
    }
  }

  /** v22 — HIERARCHICAL graph ANN (HNSW's log-depth layer form —
    * Malkov & Yashunin 2018; v21 is the single-layer base case): nodes
    * get deterministic exponential levels (P(level ≥ ℓ) = 4^-ℓ from
    * the id hash), each upper layer is a degree-capped kNN graph over
    * its members — built from the LAYER BELOW's graph by scoring the
    * ≤2-hop member pairs exactly (small layers ≤256 members get the
    * exact within-layer graph; the candidate set is degree-bounded so
    * the build is join-shaped, never quadratic in the corpus) — and
    * search descends: score the (small) top layer exactly for entry,
    * one beam round per upper layer routes toward the query's region,
    * then v21's full beam runs on the layer-0 graph. This removes the
    * IVF dependency from graph serving (v21 needs the quantizer for
    * entry points; v22's routing IS the hierarchy) — the property that
    * keeps entry routing O(log n) exact scores when one coarse probe
    * no longer covers the corpus.
    *
    * Shape at scale: every stage is an id-keyed join bounded by
    * queries·ef or layer degree; upper layers shrink 4× per level so
    * the whole hierarchy build is a constant factor over the v15 graph
    * build; no windows, no unbounded state, rounds fixed. Rows-only
    * (the v15 base graph rests on the seeded-KMeans IVF probes);
    * spec pins layer nesting/decay/degree-cap, ≥0.9 recall on the
    * planted-cluster fixture with recall-not-worse than v21, and
    * rerun determinism.
    */
  /** Stage (memoized per dataset fingerprint + build params) the v22
    * layer hierarchy as ONE hive-partitioned parquet dir: `lvl=0` holds
    * the undirected base kNN graph, `lvl=ℓ` the degree-capped layer-ℓ
    * edges. Each layer is written as it is built and read back as the
    * next layer's candidate source, so the parquet write itself
    * truncates lineage — no localCheckpoint blocks accumulate across
    * calls — and a rerun or query-knob sweep reuses ONE hierarchy build
    * the way `stagedIvfIndex` reuses one index (r11 advice + verdict
    * item 7: the committed v22 line was build-inclusive every call).
    */
  private[ops] def stagedHnswLayers(s: SparkSession, e: DataFrame, d: String,
      maxL: Int, layerK: Int): String = {
    Staged.dir(s, "hnsw_layers", d, layerK) {
      val dir = graft.Tables.scratchDir(
        s"graft_hnsw_${layerK}_${graft.Tables.datasetFingerprint(d)}", d)
      val leveled = e.withColumn("lvl", hnswLevel(maxL)).cache()
      val lvlCounts = leveled.groupBy("lvl").count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      def memberCount(l: Int): Long =
        lvlCounts.collect { case (lv, c) if lv >= l => c }.sum
      def members(l: Int): DataFrame =
        leveled.filter(col("lvl") >= l).select("vec_id", "embedding")
      val top = (1 to maxL).filter(memberCount(_) >= 2).lastOption.getOrElse(0)

      val g0 = knnGraph(s, d).select("src", "dst")
      g0.union(g0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().write.mode("overwrite").parquet(s"$dir/lvl=0")

      // build layer graphs bottom-up: layer ℓ's candidates are the ≤2-hop
      // member pairs of layer ℓ-1's graph, scored exactly, degree-capped
      var lower = s.read.parquet(s"$dir/lvl=0")
      for (l <- 1 to top) {
        val ids = members(l).select("vec_id")
        val cand =
          if (memberCount(l) <= 256) {
            members(l).select(col("vec_id").as("src"), col("embedding").as("sv"))
              .crossJoin(members(l)
                .select(col("vec_id").as("dst"), col("embedding").as("dv")))
              .filter(col("src") =!= col("dst"))
          } else {
            lower.select(col("src"), col("dst").as("mid"))
              .join(lower.select(col("src").as("mid"), col("dst")), "mid")
              .select("src", "dst")
              .union(lower.select("src", "dst"))
              .filter(col("src") =!= col("dst")).distinct()
              .join(ids.select(col("vec_id").as("src")), "src")
              .join(ids.select(col("vec_id").as("dst")), "dst")
              .join(e.select(col("vec_id").as("src"), col("embedding").as("sv")),
                "src")
              .join(e.select(col("vec_id").as("dst"), col("embedding").as("dv")),
                "dst")
          }
        val scored = cand.withColumn("cos", cosine(col("sv"), col("dv")))
          .select("src", "dst", "cos")
        val kept = graft.functions.TopK.perGroup(scored, "src", "cos", "dst", layerK)
          .select("src", "dst")
        kept.union(kept.select(col("dst").as("src"), col("src").as("dst")))
          .distinct().write.mode("overwrite").parquet(s"$dir/lvl=$l")
        lower = s.read.parquet(s"$dir/lvl=$l")
      }
      leveled.unpersist()
      dir
    }
  }

  def hierarchicalGraphSearch(s: SparkSession, d: String, numQueries: Int = 5,
      k: Int = 10, ef: Int = 32, rounds: Int = 2, layerK: Int = 5,
      efUpper: Int = 8): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    val n = e.count()
    if (n == 0)
      return Seq.empty[(Long, Int, Long, Double)].toDF("q_id", "rank", "n_id", "cos")
    val maxL = math.max(1, math.min(8,
      (math.log(math.max(4.0, n.toDouble)) / math.log(4.0)).floor.toInt))
    val layers = s.read.parquet(stagedHnswLayers(s, e, d, maxL, layerK))
    // staged max lvl IS the top layer: member counts are monotone
    // decreasing in lvl and every staged layer 1..top had ≥2 members
    val top = layers.agg(max(col("lvl"))).head.getInt(0)
    def layerEdges(l: Int): DataFrame =
      layers.filter(col("lvl") === l).select("src", "dst")
    val und0 = layerEdges(0)
    def members(l: Int): DataFrame =
      e.withColumn("lvl", hnswLevel(maxL))
        .filter(col("lvl") >= l).select("vec_id", "embedding")

    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")).cache()
    // entry: the top layer is small by construction — score it exactly
    val entryPool =
      if (top >= 1) members(top)
      else e.filter(col("vec_id") < 256).select("vec_id", "embedding")
    val entryScored = entryPool.join(broadcast(q),
        col("q_id") =!= col("vec_id"))
      .withColumn("cos", cosine(col("qv"), col("embedding")))
      .select("q_id", "vec_id", "cos")
    val entry = graft.functions.TopK
      .perGroup(entryScored, "q_id", "cos", "vec_id", efUpper)
      .select("q_id", "vec_id", "cos").localCheckpoint()
    // route down through the upper layers, one beam round each
    val routed = Iterate("hnsw descend", entry, top)((beam, i) =>
      Some(beamRound(beam, layerEdges(top + 1 - i), e, q, efUpper)))
    // layer 0: the full v21 beam
    val layer0 = graft.functions.TopK.perGroup(routed, "q_id", "cos", "vec_id", ef)
      .select("q_id", "vec_id", "cos").localCheckpoint()
    val beam = Iterate("hnsw layer 0", layer0, rounds)((beam, _) =>
      Some(beamRound(beam, und0, e, q, ef)))
    // every beam round is eagerly localCheckpointed, so the final top-k
    // depends only on the (queries·ef)-sized last beam — the corpus and
    // query caches can be dropped before returning (r11 advice: cached
    // blocks must not accumulate across calls in one JVM)
    e.unpersist()
    q.unpersist()
    graft.functions.TopK.perGroup(beam, "q_id", "cos", "vec_id", k)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** v18 — BINARY sign-bit embedding codes + Hamming retrieval (the
    * deterministic mean-threshold variant of Charikar 2002's hyperplane
    * LSH — the third member of the engine's compression triptych after
    * int8 (v8, 4×) and PQ (v9, 51×): ONE BIT per dimension, a 64-dim
    * fp32 vector becomes a single 8-byte long, 32× smaller, and the
    * scan kernel is XOR + popcount — the cheapest similarity any
    * hardware can score). Bit i is (v_i > corpus mean_i): the per-dim
    * means are a 64-row rollup broadcast back as the splitting
    * hyperplane, so the code is a pure deterministic function of the
    * corpus — no RNG, rerun- and engine-stable. Search: Hamming top
    * `pool` via the bounded TopK aggregator, then exact fp rescore of
    * the pool orders the final k (v8/v9's two-stage discipline).
    *
    * Shape at scale: the coded corpus is 8 bytes/vector — a billion
    * vectors fit in 8 GB, broadcastable shards — the scan is one
    * codegen'd XOR+bit_count per row, and the only shuffles are
    * TopK-bounded. Fully DuckDB-oracled since round 11 (the rounded
    * hyperplane, sign bits, differing-bit count, and exact rescore all
    * replay in SQL); the spec additionally pins pool≥corpus
    * degeneration to exact v2 BIT-FOR-BIT, clustered recall, 64-bit
    * boundedness, and rerun determinism.
    */
  def binaryHammingTopK(s: SparkSession, d: String, numQueries: Int = 5,
      k: Int = 10, pool: Int = 50): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    // means rounded to 6dp before thresholding: a distributed fp sum can
    // drift in the last ulp with aggregation order, and an unrounded
    // threshold would let a component sitting on it flip its bit between
    // runs — the rounded hyperplane is bit-stable
    val means = e.select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("dim").agg(avg(col("v").cast("double")).as("m"))
      .orderBy("dim").collect()
      .map(r => math.rint(r.getDouble(1) * 1e6) / 1e6)
    if (means.isEmpty)
      return Seq.empty[(Long, Int, Long, Double)].toDF("q_id", "rank", "n_id", "cos")
    require(means.length <= 64,
      s"sign codes pack one bit per dimension into a long: dim ${means.length} > 64")
    val mlit = typedlit(means.toSeq)
    val coded = e
      .withColumn("bits", zip_with(col("embedding"), mlit,
        (a, b) => when(a.cast("double") > b, 1L).otherwise(0L)))
      .withColumn("code", expr(
        "aggregate(zip_with(bits, sequence(0L, cast(size(bits) - 1 as long))," +
          " (b, i) -> shiftleft(b, cast(i as int))), 0L, (acc, x) -> acc | x)"))
      .select(col("vec_id"), col("embedding"), col("code"))
      .cache()
    val q = coded.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("code").as("qc"))
    // stage 1: XOR+popcount over the 8-byte codes only
    val scored = coded.select(col("vec_id"), col("code"))
      .join(broadcast(q.select("q_id", "qc")), col("q_id") =!= col("vec_id"))
      .withColumn("hsim",
        (lit(64) - bit_count(col("qc").bitwiseXOR(col("code")))).cast("double"))
    val cand = graft.functions.TopK.perGroup(scored, "q_id", "hsim", "vec_id", pool)
      .select("q_id", "vec_id")
    // stage 2: exact fp rescore of the bounded pool
    val rescored = cand
      .join(coded.select(col("vec_id"), col("embedding").as("nv")), "vec_id")
      .join(broadcast(q.select("q_id", "qv")), "q_id")
      .withColumn("cos", cosine(col("qv"), col("nv")))
    graft.functions.TopK.perGroup(rescored, "q_id", "cos", "vec_id", k)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** v16 — NN-DESCENT refinement of the kNN graph (Dong, Moses &
    * Li 2011, "Efficient k-nearest neighbor graph construction for
    * generic similarity measures"): improve v15's IVF-approximate graph
    * by the neighbor-of-my-neighbor principle — each round, every
    * node's candidate set is its current neighbors' neighbors (over the
    * UNDIRECTED view, both link directions carry information), scored
    * exactly, and merged with the current edges; per-node top-k keeps
    * the best. Because the old edges are always in the candidate set,
    * each node's rank-r similarity is MONOTONE non-decreasing per round
    * — the descent guarantee the spec pins — and cross-cluster recall
    * lost to IVF probe misses is recovered through mutual neighbors.
    *
    * Shape at scale: the candidate build is two hash joins of the
    * O(n·k) edge list with itself on the shared node key — candidates
    * are O(n·(2k)²) rows, graph-sized not corpus-squared — then one
    * distinct, one exact-rescore join against the vector table, and the
    * bounded TopK aggregator (shuffle O(n·k)). No window, no driver
    * materialization; every stage keys on a node id. Rows-only (seeded
    * KMeans upstream has no SQL twin); the spec pins per-rank
    * monotonicity vs v15, recall-not-worse on planted clusters,
    * well-formedness, and rerun determinism.
    */
  def nnDescentRefine(s: SparkSession, d: String, k: Int = 5, nprobe: Int = 2,
      rounds: Int = 1): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    val sv = e.select(col("vec_id").as("src"), col("embedding").as("sv"))
    val dv = e.select(col("vec_id").as("dst"), col("embedding").as("dv"))
    var graph = knnGraph(s, d, k, nprobe).select("src", "dst").cache()
    for (_ <- 1 to rounds) {
      val und = graph
        .union(graph.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val cand = und.as("a")
        .join(und.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
        .union(graph) // old edges always compete: per-rank monotonicity
        .distinct()
      val scored = cand.join(sv, "src").join(dv, "dst")
        .withColumn("cos", cosine(col("sv"), col("dv")))
      val next = graft.functions.TopK.perGroup(scored, "src", "cos", "dst", k)
        .select("src", "dst").cache()
      next.count() // materialize before unpersisting the previous round
      graph.unpersist()
      graph = next
    }
    val rescored = graph.join(sv, "src").join(dv, "dst")
      .withColumn("cos", cosine(col("sv"), col("dv")))
    graft.functions.TopK.perGroup(rescored, "src", "cos", "dst", k)
      .select(col("src"), col("rank"), col("dst"), round(col("cos"), 6).as("cos"))
      .orderBy("src", "rank")
  }

  /** v17 — TWO-STAGE late-interaction retrieval (the PLAID serving
    * shape, Santhanam et al. 2022: "PLAID: An Efficient Engine for
    * Late Interaction Retrieval"): stage 1 generates a bounded
    * candidate pool per query with the CHEAP single-(pooled-)vector
    * scan over v3's partition-pruned IVF index; stage 2 pays v14's
    * m×m MaxSim grid ONLY for the pool. This is how production
    * ColBERT-family stacks actually serve: the expensive late
    * interaction never touches the corpus, just queries × pool rows.
    *
    * Shape at scale: the IVF fit, bucketed staging, and probe
    * machinery are v3's memoized ones (no new index); stage-1
    * candidates ride the bounded TopK aggregator (shuffle
    * O(queries·pool)); stage 2 is one join of the (queries·pool)-row
    * pool against the vector table + a codegen'd column-expression
    * grid — no explode — and a final TopK. Rows-only (seeded KMeans
    * upstream); the spec pins exact degeneration (all cells probed +
    * pool ≥ corpus ⇒ result ≡ v14 bit-for-bit), MaxSim-recall vs the
    * exhaustive v14 on planted clusters, well-formedness, and rerun
    * determinism.
    */
  def plaidRerank(s: SparkSession, d: String, numQueries: Int = 5, k: Int = 10,
      nprobe: Int = 4, pool: Int = 50, m: Int = 4, sub: Int = 16): DataFrame = {
    import s.implicits._
    val empty = Seq.empty[(Long, Int, Long, Double)]
      .toDF("q_id", "rank", "n_id", "score")
    val e = embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    val nCorpus = e.count()
    val nl = adaptiveNlist(nCorpus)
    val cents = memoCents(e, d, nl, nCorpus)
    if (cents.isEmpty) return empty
    val corpus = s.read.parquet(stagedIvfIndex(s, e, d, nl, cents))
    val centDf = cents.toSeq.toDF("cell", "centroid")
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val probeW = Window.partitionBy("q_id").orderBy(desc("ccos"), asc("cell"))
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("ccos", cosine(col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select("q_id", "qv", "cell")
      .cache()
    val probedCells = probes.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq
    if (probedCells.isEmpty) return empty
    val pruned = corpus.filter(col("cell").isin(probedCells: _*))
    // stage 1: pooled-vector cosine over the pruned cells only
    val scored = probes.join(pruned, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", cosine(col("qv"), col("embedding")))
    val cand = graft.functions.TopK.perGroup(scored, "q_id", "cos", "vec_id", pool)
      .select("q_id", "vec_id")
    // stage 2: the m×m MaxSim grid, paid only for the bounded pool
    val cv = e.select(col("vec_id"), col("embedding").as("nv"))
    val pairs = cand.join(cv, "vec_id").join(broadcast(q), "q_id")
    val perQuerySub = (0 until m).map { qi =>
      val qs = slice(col("qv"), qi * sub + 1, sub)
      (0 until m)
        .map(ci => cosine(qs, slice(col("nv"), ci * sub + 1, sub)))
        .reduce(greatest(_, _))
    }
    val rescored = pairs.withColumn("score", perQuerySub.reduce(_ + _))
    graft.functions.TopK.perGroup(rescored, "q_id", "score", "vec_id", k)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("score"), 6).as("score"))
      .orderBy("q_id", "rank")
  }

  /** v14 — MULTI-VECTOR late-interaction retrieval (ColBERT's MaxSim,
    * Khattab & Zaharia 2020): an item is represented by m token-level
    * vectors, and score(q, c) = Σ over query vectors of max over item
    * vectors of cosine — the fine-grained relevance single-vector
    * retrieval flattens away. The fixture derives the multi-vector view
    * deterministically by slicing each 64-dim embedding into m=4
    * 16-dim subvectors (the PQ subvector geometry — no new data).
    *
    * Shape at scale: the corpus is NEVER exploded to one-row-per-token —
    * both sides stay one row per item and the m×m cosine grid is a
    * codegen'd column expression per candidate pair (16 fused kernel
    * calls), so the scan cost is m² × the single-vector scan with zero
    * extra rows, and the shuffle stays TopK-bounded
    * (O(queries·k·partitions)). The per-query-vector maxes are combined
    * in FIXED qi order (left-assoc +), so both engines add the same
    * doubles in the same order — what keeps a sum-of-maxes oracle-able.
    * At 100 TB the pooled-vector IVF prune (v3) gates which candidates
    * pay the grid, exactly how production late-interaction stacks
    * (PLAID) stage it.
    */
  def maxSimTopK(s: SparkSession, d: String, numQueries: Int = 5, k: Int = 10,
      m: Int = 4, sub: Int = 16): DataFrame = {
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val pairs = c.join(broadcast(q), col("q_id") =!= col("n_id"))
    val perQuerySub = (0 until m).map { qi =>
      val qs = slice(col("qv"), qi * sub + 1, sub)
      (0 until m)
        .map(ci => cosine(qs, slice(col("nv"), ci * sub + 1, sub)))
        .reduce(greatest(_, _))
    }
    val scored = pairs.withColumn("score", perQuerySub.reduce(_ + _))
    graft.functions.TopK.perGroup(scored, "q_id", "score", "n_id", k)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("score"), 6).as("score"))
      .orderBy("q_id", "rank")
  }

  val defs: Seq[QueryDef] = Seq(
    // rows-only: the IVF-approximate graph has no SQL twin; edge recall
    // vs the exact graph + determinism pinned in the spec
    QueryDef("v15_knn_graph", (s, d) => knnGraph(s, d), None, staged = true),
    QueryDef("v20_incremental_ivf", (s, d) => incrementalIvfMaintenance(s, d),
      None),
    QueryDef("v21_graph_search", (s, d) => graphSearchTopK(s, d), None, staged = true),
    QueryDef("v22_hnsw_search", (s, d) => hierarchicalGraphSearch(s, d), None, staged = true),
    // rows-only: NN-Descent inherits v15's seeded-KMeans upstream; the
    // spec pins per-rank monotonicity vs v15, recall-not-worse on planted
    // clusters, well-formedness, and rerun determinism
    QueryDef("v16_nndescent", (s, d) => nnDescentRefine(s, d), None, staged = true),
    // rows-only: PLAID staging inherits v3's seeded KMeans; exact
    // degeneration to v14, recall, and determinism pinned in the spec
    QueryDef("v17_plaid_rerank", (s, d) => plaidRerank(s, d), None, staged = true),
    // rows-only: pool>=corpus ≡ exact v2, clustered recall, 64-bit
    // boundedness, and rerun determinism pinned in the spec
    QueryDef("v18_binary_hamming", (s, d) => binaryHammingTopK(s, d), Some(
      // fully deterministic (rounded hyperplane means, sign bits,
      // popcount, exact rescore) → DuckDB replays the whole two-stage
      // retrieval; hsim counts differing bits over the real dims (the
      // code's zero padding XORs to zero on both engines)
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |means AS (
        |  SELECT dim, round(avg(v), 6) AS m
        |  FROM (SELECT unnest(emb) AS v,
        |          unnest(range(1, len(emb) + 1)) AS dim FROM e)
        |  GROUP BY dim),
        |mv AS (SELECT list(m ORDER BY dim) AS ms FROM means),
        |coded AS (
        |  SELECT vec_id, emb,
        |    list_transform(range(1, len(emb) + 1),
        |      i -> CASE WHEN emb[i] > ms[i] THEN 1 ELSE 0 END) AS bits
        |  FROM e CROSS JOIN mv),
        |q AS (SELECT vec_id AS q_id, emb AS qv, bits AS qb
        |      FROM coded WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.q_id, c.vec_id,
        |    CAST(64 - len(list_filter(range(1, len(c.bits) + 1),
        |      i -> c.bits[i] <> q.qb[i])) AS DOUBLE) AS hsim
        |  FROM coded c JOIN q ON q.q_id <> c.vec_id),
        |pool AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY hsim DESC, vec_id) AS rn
        |    FROM scored) WHERE rn <= 50),
        |rescored AS (
        |  SELECT p.q_id, p.vec_id,
        |    list_inner_product(qq.qv, c.emb)
        |      / (sqrt(list_inner_product(qq.qv, qq.qv))
        |         * sqrt(list_inner_product(c.emb, c.emb))) AS raw_cos
        |  FROM pool p
        |  JOIN coded c ON c.vec_id = p.vec_id
        |  JOIN q qq ON qq.q_id = p.q_id)
        |SELECT q_id, CAST(rank AS INT) AS rank, vec_id AS n_id,
        |  round(raw_cos, 6) AS cos
        |FROM (
        |  SELECT q_id, vec_id, raw_cos,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY raw_cos DESC, vec_id) AS rank
        |  FROM rescored) WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin), staged = true),
    QueryDef("v14_maxsim_topk", (s, d) => maxSimTopK(s, d), Some(
      // same total order as v2 (score desc, n_id asc); per-qi maxes
      // summed in fixed qi order on both sides
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |sub AS (
        |  SELECT vec_id, si, list_slice(emb, si * 16 + 1, si * 16 + 16) AS sv
        |  FROM e, unnest(range(0, 4)) r(si)),
        |grid AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.si AS qi,
        |    list_inner_product(q.sv, c.sv)
        |      / (sqrt(list_inner_product(q.sv, q.sv))
        |         * sqrt(list_inner_product(c.sv, c.sv))) AS cos
        |  FROM sub q JOIN sub c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5),
        |bym AS (
        |  SELECT q_id, n_id, qi, max(cos) AS best FROM grid GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT q_id, n_id,
        |    max(CASE WHEN qi = 0 THEN best END)
        |      + max(CASE WHEN qi = 1 THEN best END)
        |      + max(CASE WHEN qi = 2 THEN best END)
        |      + max(CASE WHEN qi = 3 THEN best END) AS score
        |  FROM bym GROUP BY 1, 2),
        |ranked AS (
        |  SELECT q_id, n_id, score,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS INT) AS rank
        |  FROM scored)
        |SELECT q_id, rank, n_id, round(score, 6) AS score
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),
    // rows-only: the stacked IVF/PQ approximations have no SQL twin;
    // recall + index-layout claims pinned in the spec
    QueryDef("v10_ivfpq_topk", (s, d) => ivfPqTopK(s, d), None, staged = true),
    // rows-only: PQ/ADC approximations have no SQL twin; recall@k vs
    // exact v2 pinned in the spec
    QueryDef("v9_pq_topk", (s, d) => pqTopK(s, d), None, staged = true),
    // rows-only: quantized scores have no SQL twin; recall@k vs exact v2
    // pinned in the spec
    QueryDef("v8_quantized_topk", (s, d) => quantizedTopK(s, d), Some(
      // symmetric int8 quantization is pure arithmetic (scale =
      // max(|x|)/127 floored at 1e-30, code = clamp(floor(x/s + .5)),
      // integer dot exact in double) → DuckDB replays quantize, scan,
      // pool, and exact rescore; ascore ranks raw (same IEEE ops)
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |qz AS (
        |  SELECT vec_id, emb,
        |    greatest(list_max(list_transform(emb, x -> abs(x))) / 127.0,
        |      1e-30) AS s
        |  FROM e),
        |coded AS (
        |  SELECT vec_id, emb, s,
        |    list_transform(emb,
        |      x -> greatest(-127.0, least(127.0, floor(x / s + 0.5)))) AS c
        |  FROM qz),
        |q AS (SELECT vec_id AS q_id, emb AS qv, s AS qs, c AS qc
        |      FROM coded WHERE vec_id < 5),
        |approx AS (
        |  SELECT q.q_id, c.vec_id AS n_id,
        |    q.qs * c.s * list_inner_product(q.qc, c.c) AS ascore
        |  FROM coded c JOIN q ON q.q_id <> c.vec_id),
        |pool AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY ascore DESC, n_id) AS rn
        |    FROM approx) WHERE rn <= 30),
        |rescored AS (
        |  SELECT p.q_id, p.n_id,
        |    list_inner_product(qq.qv, c.emb)
        |      / (sqrt(list_inner_product(qq.qv, qq.qv))
        |         * sqrt(list_inner_product(c.emb, c.emb))) AS raw_cos
        |  FROM pool p
        |  JOIN coded c ON c.vec_id = p.n_id
        |  JOIN q qq ON qq.q_id = p.q_id)
        |SELECT q_id, CAST(rank AS INT) AS rank, n_id, round(raw_cos, 6) AS cos
        |FROM (
        |  SELECT q_id, n_id, raw_cos,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY raw_cos DESC, n_id) AS rank
        |  FROM rescored) WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin)),
    // rows-only: the greedy is iterative (not SQL-expressible); λ=1
    // top-k degeneration and the diversity gain are pinned in the spec
    QueryDef("v7_mmr_diversify", (s, d) => mmrDiversifiedTopK(s, d), Some(
      // the MMR greedy is deterministic, so DuckDB replays it: a
      // recursive CTE picks rank 1..5 per query in lockstep, carrying
      // the selected ids as a LIST; the per-step argmax is max() over a
      // (mmr, -n_id) struct (lexicographic), redundancy from a
      // precomputed pool-pair cosine table rounded 6dp like the engine
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    round(list_inner_product(q.emb, c.emb)
        |      / (sqrt(list_inner_product(q.emb, q.emb))
        |         * sqrt(list_inner_product(c.emb, c.emb))), 6) AS rel
        |  FROM e q, e c
        |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
        |pool AS (
        |  SELECT q_id, n_id, rel FROM (
        |    SELECT q_id, n_id, rel,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY rel DESC, n_id) AS rn
        |    FROM scored) WHERE rn <= 20),
        |pairs AS (
        |  SELECT p1.q_id, p1.n_id AS a, p2.n_id AS b,
        |    round(list_inner_product(ea.emb, eb.emb)
        |      / (sqrt(list_inner_product(ea.emb, ea.emb))
        |         * sqrt(list_inner_product(eb.emb, eb.emb))), 6) AS c
        |  FROM pool p1 JOIN pool p2
        |    ON p1.q_id = p2.q_id AND p1.n_id <> p2.n_id
        |  JOIN e ea ON ea.vec_id = p1.n_id
        |  JOIN e eb ON eb.vec_id = p2.n_id),
        |step AS (
        |  SELECT q_id, 0 AS rank, CAST([] AS BIGINT[]) AS sel,
        |    CAST(NULL AS BIGINT) AS n_id,
        |    CAST(0.0 AS DOUBLE) AS rel, CAST(0.0 AS DOUBLE) AS mmr
        |  FROM (SELECT DISTINCT q_id FROM pool)
        |  UNION ALL
        |  SELECT q_id, rank + 1,
        |    sel || [(max(key)).id],
        |    (max(key)).id, (max(key)).r, (max(key)).m
        |  FROM (
        |    SELECT s.q_id, s.rank, s.sel, p.n_id, p.rel,
        |      {'m': round(0.5 * p.rel - 0.5 * coalesce(
        |        (SELECT max(pc.c) FROM pairs pc
        |         WHERE pc.q_id = s.q_id AND pc.a = p.n_id
        |           AND list_contains(s.sel, pc.b)), 0.0), 6),
        |       'i': -p.n_id, 'id': p.n_id, 'r': p.rel} AS key
        |    FROM step s JOIN pool p
        |      ON p.q_id = s.q_id AND NOT list_contains(s.sel, p.n_id)
        |    WHERE s.rank < 5)
        |  GROUP BY q_id, rank, sel)
        |SELECT q_id, CAST(rank AS INT) AS rank, n_id, rel, mmr
        |FROM step WHERE rank >= 1 ORDER BY q_id, rank""".stripMargin)),
    QueryDef("v6_int8_quant", (s, d) => int8Quantization(s, d), Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
        |s1 AS (SELECT vec_id, x,
        |    greatest(list_max(list_transform(x, v -> abs(v))) / 127.0, 1e-30) AS scale
        |  FROM e),
        |s2 AS (SELECT vec_id, x, scale,
        |    list_transform(x, v ->
        |      greatest(-127.0, least(127.0, floor(v / scale + 0.5))) * scale) AS dq
        |  FROM s1)
        |SELECT vec_id,
        |  round(list_inner_product(x, dq)
        |    / (sqrt(list_inner_product(x, x)) * sqrt(list_inner_product(dq, dq))), 6) AS cos_dq,
        |  round(list_max(list_transform(generate_series(1, len(x)),
        |    i -> abs(x[i] - dq[i]))), 6) AS max_abs_err
        |FROM s2 ORDER BY vec_id""".stripMargin)),
    QueryDef("v1_cosine_threshold", (s, d) => cosineThreshold(s, d), Some(
      // DOUBLE[] cast: see d5 — float32 vs double accumulation
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |  round(list_inner_product(q.emb, c.emb)
        |    / (sqrt(list_inner_product(q.emb, q.emb))
        |       * sqrt(list_inner_product(c.emb, c.emb))), 6) AS cos
        |FROM e q, e c
        |WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
        |  AND list_inner_product(q.emb, c.emb)
        |    / (sqrt(list_inner_product(q.emb, q.emb))
        |       * sqrt(list_inner_product(c.emb, c.emb))) >= 0.25::DOUBLE
        |ORDER BY q_id, n_id""".stripMargin)),
    // rows-only: seeded KMeans quantizer has no SQL twin; recall vs the
    // exact filtered v12 + scan-reduction + pruning spec-pinned
    QueryDef("v13_filtered_ann", (s, d) => filteredAnnIvf(s, d), None, staged = true),
    QueryDef("v12_filtered_topk", (s, d) => filteredTopK(s, d), Some(
      // v2's oracle with the metadata predicate as a pre-score join —
      // rank over the unrounded cosine, CAST rank to INT, round output
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |allowed AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_inner_product(q.emb, c.emb)
        |      / (sqrt(list_inner_product(q.emb, q.emb))
        |         * sqrt(list_inner_product(c.emb, c.emb))) AS raw_cos
        |  FROM e q, e c, allowed a
        |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id AND c.vec_id = a.doc_id),
        |ranked AS (
        |  SELECT q_id, n_id, raw_cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY raw_cos DESC, n_id) AS INT) AS rank
        |  FROM scored)
        |SELECT q_id, rank, n_id, round(raw_cos, 6) AS cos
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),
    QueryDef("v2_bruteforce_topk", (s, d) => bruteForceTopK(s, d), Some(
      // rank over the UNROUNDED cosine (as the Spark side does), CAST to
      // INT to match Spark's row_number type; round only in the output.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_inner_product(q.emb, c.emb)
        |      / (sqrt(list_inner_product(q.emb, q.emb))
        |         * sqrt(list_inner_product(c.emb, c.emb))) AS raw_cos
        |  FROM e q, e c
        |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT q_id, n_id, raw_cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY raw_cos DESC, n_id) AS INT) AS rank
        |  FROM scored)
        |SELECT q_id, rank, n_id, round(raw_cos, 6) AS cos
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),
    QueryDef("v19_hard_negatives", (s, d) => hardNegatives(s, d), Some(
      // v2's oracle discipline: rank the UNROUNDED cosine, INT rank,
      // round only in the output; the different-label predicate sits
      // in the pair source exactly as the Spark join does.
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_inner_product(q.emb, c.emb)
        |      / (sqrt(list_inner_product(q.emb, q.emb))
        |         * sqrt(list_inner_product(c.emb, c.emb))) AS raw_cos
        |  FROM e q, e c
        |  WHERE q.vec_id < 8 AND q.label <> c.label),
        |ranked AS (
        |  SELECT q_id, n_id, raw_cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY raw_cos DESC, n_id) AS INT) AS rank
        |  FROM scored)
        |SELECT q_id, rank, n_id, round(raw_cos, 6) AS cos
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),
    QueryDef("v3_ann_ivf", (s, d) => annIvf(s, d), None, staged = true),
    // rows-only: the seeded coarse quantizer has no SQL twin; the curve's
    // monotonicity + max-probe recall floor are spec-pinned
    QueryDef("v11_ann_recall_curve", (s, d) => annRecallCurve(s, d), None, staged = true),
    QueryDef("v5_fused_naive_cosine", (s, d) => cosineThresholdNaive(s, d), Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |  round(list_inner_product(q.emb, c.emb)
        |    / (sqrt(list_inner_product(q.emb, q.emb))
        |       * sqrt(list_inner_product(c.emb, c.emb))), 6) AS cos
        |FROM e q, e c
        |WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
        |  AND list_inner_product(q.emb, c.emb)
        |    / (sqrt(list_inner_product(q.emb, q.emb))
        |       * sqrt(list_inner_product(c.emb, c.emb))) >= 0.25::DOUBLE
        |ORDER BY q_id, n_id""".stripMargin)),
    QueryDef("v4_centroid_by_label", centroidByLabel, Some(
      """SELECT label, dim, round(avg(v), 6) AS mean_v FROM (
        |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings)
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin))
  )
}
