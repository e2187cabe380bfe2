package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the fuzzy-dedup operators on planted fixtures: LSH precision is
  * exact (verify step), recall is checked against brute-force Jaccard,
  * simhash hamming on near-identical docs.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Fixture dir with a documents.parquet containing planted near-dups. */
  lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("graft_dedup").toString
    val base = (0 until 40).map(i => s"tok${i % 17} w$i common text body piece number ${i * 7 % 11}").mkString(" ")
    // near dup: exactly two token positions changed
    val toks = base.split(" "); toks(30) = "CHANGED1"; toks(190) = "CHANGED2"
    val nearDup = toks.mkString(" ")
    val docs = Seq(
      (0L, base, "en", "a"),
      (1L, base, "en", "a"),                                      // exact dup of 0
      (2L, nearDup, "en", "a"),                                   // near dup of 0
      (3L, base.split(" ").drop(6).mkString(" "), "en", "b"),     // high-overlap suffix
      (4L, (0 until 40).map(i => s"zz$i qq${i * 3} rr${i * 5}").mkString(" "), "en", "b"), // unrelated
      (5L, (0 until 40).map(i => s"aa$i bb${i * 2} cc${i * 9}").mkString(" "), "de", "b")  // unrelated
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Brute-force exact Jaccard over all pairs (the recall oracle). */
  def bruteJaccard(minJ: Double): Set[(Long, Long)] = {
    val docs = graft.Tables.documents(spark, fixtureDir)
      .select(col("doc_id"), array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
    val a = docs.select(col("doc_id").as("da"), col("sh").as("sa"))
    val b = docs.select(col("doc_id").as("db"), col("sh").as("sb"))
    a.crossJoin(b).filter(col("da") < col("db"))
      .withColumn("j", size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb"))).cast("double"))
      .filter(col("j") >= minJ)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("exact dedup keeps min doc_id per text group") {
    val out = Dedup.exactDedup(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(0L) == 2L)            // docs 0,1 collapse onto keep_id 0
    assert(!out.contains(1L))
    assert(out.values.sum == 6L)     // every doc accounted for
  }

  test("minhash LSH finds all strong near-dups, reports only true ones") {
    val found = Dedup.minhashLshPairs(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val strong = bruteJaccard(0.9)   // P(LSH miss | j>=0.9) < 1e-5 at 12x4
    assert(strong.subsetOf(found), s"missed strong pairs: ${strong -- found}")
    val truthy = bruteJaccard(0.7)   // verify step guarantees precision
    assert(found.subsetOf(truthy), s"false positives: ${found -- truthy}")
    assert(found.contains((0L, 1L)) && found.contains((0L, 2L)))
    assert(!found.exists { case (x, y) => Set(x, y).contains(4L) })
  }

  test("simhash: identical docs at hamming 0, unrelated docs not paired") {
    val out = Dedup.simhashPairs(spark, fixtureDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(out((0L, 1L)) == 0)
    assert(out.contains((0L, 2L)))   // 2-token change → few bits flip
    // unrelated docs never pair with the near-dup cluster
    assert(!out.keySet.exists { case (x, y) =>
      (Set(x, y) & Set(4L, 5L)).nonEmpty && (Set(x, y) -- Set(4L, 5L)).nonEmpty })
  }

  test("ngram jaccard pairs agree with brute force at the 0.5 threshold") {
    val found = Dedup.ngramJaccardPairs(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == bruteJaccard(0.5))
  }

  test("dedup clusters: transitive chain collapses to min id; singleton keeps its own") {
    val dir = Files.createTempDirectory("graft_cc").toString
    // chain 0–1–2: j(0,1)=18/22≈0.82, j(1,2)=15/25=0.60, but j(0,2)=13/27≈0.48
    // sits BELOW the 0.5 threshold — 0 and 2 connect only transitively
    val t0 = (0 until 22).map(i => s"w$i").toArray
    val t1 = t0.clone; t1(20) = "X1"; t1(21) = "X2"
    val t2 = t1.clone; t2(9) = "Y1"; t2(10) = "Y2"; t2(11) = "Y3"
    Seq(
      (0L, t0.mkString(" "), "en", "a"),
      (1L, t1.mkString(" "), "en", "a"),
      (2L, t2.mkString(" "), "en", "a"),
      (3L, (0 until 22).map(i => s"q${i * 3}z").mkString(" "), "en", "b"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val pairs = Dedup.ngramJaccardPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (1L, 2L)), s"edge set: $pairs")

    val clusters = Dedup.dedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L),
      s"clusters: $clusters")
  }

  test("fuzzy match: close names pair within block, far names and cross-block don't") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fz").toString
    Seq((1L, "red bolt", "Brand#1", "t", 1, "c", 1.0),
      (2L, "ted bolt", "Brand#1", "t", 1, "c", 1.0),   // dist 1 from red bolt
      (3L, "yellow bolt", "Brand#1", "t", 1, "c", 1.0), // dist 5 from red bolt: too far
      (4L, "red gear", "Brand#1", "t", 1, "c", 1.0))   // other block, never compared
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_container", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = Dedup.fuzzyNameMatch(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(("red bolt", "ted bolt", 1)), s"pairs: $got")

    // block cap: with maxBlock=1 the 3-name "bolt" block is skipped whole
    assert(Dedup.fuzzyNameMatch(spark, dir, maxBlock = 1).count() == 0)
  }

  test("embedding near-dup finds planted near-identical vectors") {
    val dir = Files.createTempDirectory("graft_emb").toString
    val v0 = Array.tabulate(8)(i => math.sin(i + 1).toFloat)
    val v0eps = v0.clone(); v0eps(0) = v0eps(0) + 0.001f
    val vOrth = Array.tabulate(8)(i => math.cos(3 * i + 2).toFloat)
    Seq((0L, v0.toSeq, 0), (1L, v0eps.toSeq, 0), (2L, vOrth.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = Dedup.embeddingNearDupPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("embedding near-dup: full recall vs brute force on planted clusters, no cartesian in plan") {
    // 300 vectors in 12 tight clusters + planted near-dup pairs — the
    // regime the cell bucketing is built for; operator is exact by the
    // triangle-inequality bound, so recall vs brute force must be 1.0
    val rnd = new scala.util.Random(11)
    val dim = 24
    val centers = Array.fill(12, dim)(rnd.nextGaussian())
    val rows = (0 until 300).map { id =>
      val c = centers(id % 12)
      (id.toLong, c.map(x => (x + rnd.nextGaussian() * 0.25).toFloat).toSeq, id % 12)
    }
    val dir = Files.createTempDirectory("graft_embrec").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val op = Dedup.embeddingNearDupPairs(spark, dir, threshold = 0.8)
    val plan = op.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"all-pairs node in plan:\n$plan")
    val got = op.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // brute-force oracle (crossJoin lives ONLY here, as the recall oracle)
    val e = graft.Tables.embeddings(spark, dir)
    val brute = e.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("b"), col("embedding").as("vb")))
      .filter(col("a") < col("b"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= 0.8)
      .select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture must contain qualifying pairs")
    val recall = (got intersect brute).size.toDouble / brute.size
    assert(recall >= 0.95, s"recall $recall < 0.95 (missed ${brute -- got})")
    assert(got == brute, s"exact operator must equal brute force; extra=${got -- brute} missing=${brute -- got}")
  }

  test("simhash skew cap bounds degenerate-bucket pair count") {
    // 200 identical docs — web-boilerplate shape: every chunk bucket is
    // degenerate. With the cap the blocked self-join must not go
    // quadratic; the clones' pairs are exactDedup's job, not simhash's.
    val rnd = new scala.util.Random(3)
    val boiler = (0 until 60).map(i => s"boiler${i % 9} plate$i").mkString(" ")
    val clones = (100 until 300).map(i => (i.toLong, boiler, "en", "c"))
    val distinctDocs = (0 until 6).map { i =>
      (i.toLong, (0 until 60).map(j => s"w${rnd.nextInt(5000)}x${i}_$j").mkString(" "), "en", "d")
    }
    val dir = Files.createTempDirectory("graft_simcap").toString
    (clones ++ distinctDocs).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val capped = Dedup.simhashPairs(spark, dir).collect()
    // all 4 chunk buckets of the clone cluster exceed maxBucket=64 → dropped;
    // bound = pairs from small buckets only, never the 200·199/2 quadratic set
    assert(capped.length < 200, s"cap failed: ${capped.length} pairs")
    assert(!capped.exists(r => r.getLong(0) >= 100L && r.getLong(1) >= 100L),
      "degenerate clone bucket leaked through the cap")
    // raising the cap above the cluster size restores the quadratic set
    val uncapped = Dedup.simhashPairs(spark, dir, maxBucket = 300).collect()
    assert(uncapped.count(r => r.getLong(0) >= 100L && r.getLong(1) >= 100L) == 200 * 199 / 2)
  }

  test("connected components: exhausting the round cap before the fixpoint throws") {
    import spark.implicits._
    // a 6-node path: round 1 moves labels but cannot settle them
    val nodes = (0L until 6L).toDF("doc_id")
    val edges = (0L until 5L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, edges, maxRounds = 1)
    }
    assert(e.getMessage == "connectedComponents did not converge in 1 rounds")
  }

  test("connected components: 64-doc chain converges with bounded plan lineage") {
    import spark.implicits._
    // worst-case diameter for the round budget: one long chain — needs
    // several pointer-jumping rounds, crossing the checkpoint cadence
    val nodes = (0L until 64L).toDF("doc_id")
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = Dedup.connectedComponents(nodes, edges)
    val rows = cc.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 64 && rows.forall(_._2 == 0L),
      s"chain did not collapse to cluster 0: ${rows.filter(_._2 != 0L).take(5).toSeq}")
    // lineage pin: the result is localCheckpoint'ed, so the FINAL plan is
    // a LogicalRDD leaf — without in-loop checkpoints the plan text (and
    // Catalyst's per-round analysis cost) grows ~4× per round (the
    // pointer-jumping self-join references each round twice; measured
    // 6895 lines for this fixture before the cadence fix)
    val depth = cc.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    assert(depth < 80, s"final plan grew to $depth lines — lineage not truncated")
  }

  test("d8: measured LSH recall against the exact pair set is a sane number") {
    val r = Dedup.lshRecall(spark, sf0001).head()
    val (nExact, nLsh, nMatched, recall) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4))
    assert(nMatched <= nExact && nMatched <= nLsh)
    // 12 bands × 4 rows at J=0.7: P(candidate) ≈ 0.96 per pair; verified
    // output only loses pairs LSH never surfaced, so recall must be high
    assert(recall >= 0.8, s"LSH recall $recall ($nMatched/$nExact) below floor")
  }

  test("LSH keep list: clusters contained in the exact closure, kept sets agree") {
    import org.apache.spark.sql.functions.col
    val lsh = Dedup.lshKeepList(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // the exhaustive pipeline at the SAME threshold: d4's exact pairs,
    // same CC closure, same min-id keeper
    val exactPairs = Dedup.ngramJaccardPairs(spark, sf0001, threshold = 0.7)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val nodes = graft.Tables.documents(spark, sf0001).select("doc_id")
    val exact = Dedup.connectedComponents(nodes, exactPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every LSH pair is exact-verified, so an LSH cluster can never
    // straddle two exact clusters: same lsh cluster → same exact cluster
    val byLshCluster = lsh.groupBy(_._2)
    for ((cl, members) <- byLshCluster) {
      val exactClusters = members.map(m => exact(m._1)).distinct
      assert(exactClusters.length == 1,
        s"LSH cluster $cl straddles exact clusters $exactClusters")
    }
    // missed candidates only SPLIT clusters, so LSH keeps at least as
    // many docs; agreement floor ties the decision to the exact one
    val keptLsh = lsh.filter(_._3 == 1).map(_._1).toSet
    val keptExact = exact.groupBy(_._2).map(_._2.keys.min).toSet
    assert(keptExact.subsetOf(keptLsh),
      "a doc kept by the exact pipeline was dropped by LSH")
    val agree = keptExact.size.toDouble / keptLsh.size
    assert(agree >= 0.9, s"kept-set agreement $agree below 0.9")
  }

  test("SemDeDup pool cap: state bounded, overflow keeps instead of false-dropping, deterministic") {
    def oneHot(i: Int, dim: Int = 8): Seq[Float] =
      Seq.tabulate(dim)(j => if (j == i) 1.0f else 0.0f)
    // hand-ordered degenerate cluster (iterator order IS greedy order):
    // 3 mutually-orthogonal fillers saturate a cap-3 pool, then the
    // overflow regime is exercised in both directions
    val stream = Seq(
      (0L, "", 7, oneHot(0)), // pooled
      (1L, "", 7, oneHot(1)), // pooled
      (2L, "", 7, oneHot(2)), // pooled — pool now full
      (3L, "", 7, oneHot(3)), // no pooled witness → KEPT, not pooled
      (4L, "", 7, oneHot(3)), // dup of the UNPOOLED keeper → still kept (one-sided error)
      (5L, "", 7, oneHot(0))  // dup of a POOLED keeper → dropped, witness 0
    )
    val out = Dedup.semGreedy(0.5, maxPool = 3)(stream.iterator).toList
    assert(out.map(r => (r._1, r._3, r._4)) == List(
      (0L, 1, 0L), (1L, 1, 1L), (2L, 1, 2L),
      (3L, 1, 3L), // overflow keep
      (4L, 1, 4L), // under-dedup is the documented overflow cost...
      (5L, 0, 0L)  // ...but pooled dedup still fires past the cap
    ), s"cap-3 greedy decisions wrong: $out")
    assert(out.forall(_._2 == 7), "cluster id not carried through")
    // an uncapped pool WOULD drop doc 4 against keeper 3 — the contrast
    // that proves the cap (not τ) made the difference above
    val unc = Dedup.semGreedy(0.5, maxPool = 100)(stream.iterator).toList
    assert(unc.map(r => (r._1, r._3, r._4)) == List(
      (0L, 1, 0L), (1L, 1, 1L), (2L, 1, 2L),
      (3L, 1, 3L), (4L, 0, 3L), (5L, 0, 0L)))
    // deterministic: same stream, same decisions
    assert(Dedup.semGreedy(0.5, maxPool = 3)(stream.iterator).toList == out)
  }

  test("SemDeDup: kept set τ-separated per cluster, witnesses valid, rerun-stable") {
    val tau = 0.35 // the operator default: d5's near-dup threshold
    val rows = Dedup.semDedupKeepList(spark, sf0001, tau = tau).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    val n = graft.Tables.embeddings(spark, sf0001).count()
    // partition: every doc appears exactly once
    assert(rows.length.toLong == n && rows.map(_._1).distinct.length.toLong == n)
    val embs = graft.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val keptSet = rows.filter(_._3 == 1).map(_._1).toSet
    // theorem of the greedy: within a cluster every kept pair is < τ apart
    rows.filter(_._3 == 1).groupBy(_._2).foreach { case (cell, ks) =>
      val ids = ks.map(_._1)
      for (i <- ids.indices; j <- (i + 1) until ids.length) {
        val c = cos(embs(ids(i)), embs(ids(j)))
        assert(c < tau + 1e-9, s"kept pair ${ids(i)},${ids(j)} in cell $cell at cos $c >= $tau")
      }
    }
    // every dropped doc names a kept, same-cluster witness at >= τ
    val cellOf = rows.map(r => r._1 -> r._2).toMap
    rows.filter(_._3 == 0).foreach { case (id, cell, _, keeper, ck) =>
      assert(keptSet.contains(keeper), s"doc $id witness $keeper not kept")
      assert(cellOf(keeper) == cell, s"doc $id witness $keeper crosses clusters")
      val c = cos(embs(id), embs(keeper))
      assert(c >= tau - 1e-9, s"doc $id dropped on witness cos $c < $tau")
      assert(math.abs(c - ck) < 1e-5, s"doc $id reported cos $ck vs recomputed $c")
    }
    // some drops must happen on this corpus at τ=0.7, but never all docs
    assert(keptSet.nonEmpty && keptSet.size.toLong < n,
      s"degenerate kept set: ${keptSet.size} of $n")
    // τ above max cosine keeps everything
    val all = Dedup.semDedupKeepList(spark, sf0001, tau = 1.01).collect()
    assert(all.forall(_.getInt(2) == 1), "tau > 1 must keep every doc")
    // rerun determinism
    val again = Dedup.semDedupKeepList(spark, sf0001, tau = tau).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    assert(again.toSeq == rows.toSeq, "rerun diverged")
  }

  test("incremental near-dup agrees with the full d5 pair grid restricted to batch×corpus") {
    import org.apache.spark.sql.functions._
    // independent path: d5 scores ALL pairs with a corpus-wide quantizer;
    // d13 fits on the corpus only and scans asymmetrically — same exact
    // pair set must fall out for pairs straddling the batch boundary
    val full = Dedup.embeddingNearDupPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full
      .flatMap { case (a, b, cos) =>
        Seq((a, b, cos), (b, a, cos)) // either end may be the batch one
      }
      .filter { case (bid, cid, _) => bid % 10 == 0 && cid % 10 != 0 }
      .groupBy(_._1)
      .map { case (bid, ms) =>
        val bestCos = ms.map(_._3).max
        val bestId = ms.filter(_._3 == bestCos).map(_._2).min
        bid -> (ms.length.toLong, bestId, bestCos)
      }
    val got = Dedup.incrementalNearDup(spark, sf0001).collect()
      .filter(_.getInt(4) == 0)
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == expected,
      s"incremental scan diverged from the full grid restriction")
    // and every batch doc appears exactly once, matched or not
    val n = Dedup.incrementalNearDup(spark, sf0001).count()
    val nBatch = graft.Tables.embeddings(spark, sf0001)
      .filter(pmod(col("vec_id"), lit(10)) === 0).count()
    assert(n == nBatch)
  }
}
