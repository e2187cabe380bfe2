package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SourcesSpec extends SparkSpec {

  test("bucketed join is sort-merge with no Exchange on either side") {
    // materializes the bucketed tables for sf0.001 as a side effect
    val agg = Sources.bucketedJoin(spark, sf0001)
    val viaBuckets = agg.collect().map(r => (r.getString(0), r.getLong(1))).toMap

    val (liTbl, oTbl) = Sources.bucketTableNames(sf0001)
    val bare = Sources.bucketedJoinPlan(spark, liTbl, oTbl)
    val plan = bare.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$plan")

    // same counts as the unbucketed join
    val plainCounts = graft.Tables.lineitem(spark, sf0001)
      .join(graft.Tables.orders(spark, sf0001), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(viaBuckets == plainCounts)
  }

  test("avro bridge: container files on disk, sink parallel, readback row-exact") {
    // run the roundtrip (it writes the avro dir as a side effect)
    graft.sources.Sources.avroRoundtrip(spark, sf0001).collect()
    val dir = new java.io.File(graft.Tables.scratchDir("graft_avro", sf0001))
    assert(dir.exists(), s"avro scratch dir $dir missing after roundtrip")
    val avroFiles = dir.listFiles().filter(_.getName.endsWith(".avro"))
    assert(avroFiles.nonEmpty, s"no .avro container files in $dir")
    // the sink is as parallel as the source RDD: one container file per
    // write task (sf0.001's single-file parquet reads as one partition,
    // so one file here is the CORRECT count, not a funnel)
    val nTasks = graft.Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_suppkey", "l_quantity", "l_returnflag")
      .rdd.getNumPartitions
    assert(avroFiles.length == nTasks,
      s"${avroFiles.length} container files for $nTasks write tasks")
    // every container leads with the Avro magic 'Obj\x01'
    avroFiles.foreach { f =>
      // readFully, not read: a short read would compare garbage bytes
      val in = new java.io.DataInputStream(new java.io.FileInputStream(f))
      val magic = new Array[Byte](4)
      try in.readFully(magic) finally in.close()
      assert(magic.sameElements(Array[Byte]('O', 'b', 'j', 1)),
        s"${f.getName} does not start with the Avro container magic")
    }
    // readback (inside the query) preserved every row: the aggregate
    // equals the same aggregate over the parquet original
    val got = graft.sources.Sources.avroRoundtrip(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val want = graft.Tables.lineitem(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("l_returnflag") =!= "N")
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.sum("l_quantity"), 4).as("sum_qty"),
        org.apache.spark.sql.functions.countDistinct("l_suppkey").as("n_supp"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq, s"avro roundtrip drifted: $got vs $want")
  }

  test("jdbc scan is range-partitioned and pushes the filter to the database") {
    Sources.jdbcRoundtrip(spark, sf0001).collect() // materialize the derby db
    val url = s"jdbc:derby:${graft.Tables.scratchDir("graft_derby", sf0001)}/db"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val scan = spark.read
      .option("partitionColumn", "n_nationkey")
      .option("numPartitions", "3")
      .option("lowerBound", "0").option("upperBound", "25")
      .jdbc(url, "nation_rt", props)
      .filter(col("n_nationkey") < 20)
    // 3 partitions → 3 range-bounded remote queries, not 1 full drag
    assert(scan.rdd.getNumPartitions == 3)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_nationkey"),
      s"filter not pushed into the remote query:\n$plan")
    assert(scan.count() == 20)
  }

  // rows MATERIALIZED by the scan (post row-group skip), not post-filter;
  // AQE wraps executed stages in QueryStageExec whose plan is NOT a
  // TreeNode child, so the walk unwraps them explicitly
  private def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case f: FileSourceScanExec => Seq(f)
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
      }.flatten
    scans(df.queryExecution.executedPlan)
      .map(_.metrics("numOutputRows").value).sum
  }

  test("sort-clustered layout prunes the date-range scan to a sliver") {
    import org.apache.spark.sql.DataFrame
    val dir = Sources.sortedLayoutDir(spark, sf0001)
    val slice = (df: DataFrame) => df.filter(
      col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1998-02-01").cast("timestamp"))
      .agg(count(lit(1)))
    val total = graft.Tables.lineitem(spark, sf0001).count()
    val clustered = scanRows(slice(spark.read.parquet(dir)))
    val unclustered = scanRows(slice(graft.Tables.lineitem(spark, sf0001)))
    // unclustered baseline: one file whose min/max spans everything — the
    // pushed predicate cannot skip, every row is materialized
    assert(unclustered > (total * 0.9).toLong,
      s"baseline unexpectedly pruned: $unclustered of $total")
    // clustered: the range owns ~1/80 of the data in 1–2 of 16 files
    assert(clustered < (total * 0.3).toLong,
      s"clustered scan materialized $clustered of $total rows — no pruning")
  }

  test("z-order layout prunes slice scans on BOTH interleaved dimensions") {
    val li = graft.Tables.lineitem(spark, sf0001)
    val total = li.count()
    val b = li.agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).head()
    // an eighth-of-the-range slice in each dimension, bounds from data so
    // the fixture holds at any SF
    val pCut = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 8
    val sCut = b.getLong(2) + (b.getLong(3) - b.getLong(2)) / 8
    val dir = Sources.zorderLayoutDir(spark, sf0001)
    val z = spark.read.parquet(dir)
    val byPart = scanRows(z.filter(col("l_partkey") <= pCut).agg(count(lit(1))))
    val bySupp = scanRows(z.filter(col("l_suppkey") <= sCut).agg(count(lit(1))))
    // the unclustered single file spans everything — no skipping at all
    val baseline = scanRows(li.filter(col("l_suppkey") <= sCut).agg(count(lit(1))))
    assert(baseline > (total * 0.9).toLong,
      s"baseline unexpectedly pruned: $baseline of $total")
    // Morton order: a 1/8 slice in either dimension touches only the
    // files whose stat-rectangle overlaps that strip. At 16 files the
    // boundaries carry ~2 z-bits per dimension, and repartitionByRange's
    // SAMPLED boundaries don't align to bit edges — the second
    // dimension's overlap sits near 55% and wobbles a few % run to run
    // (measured 0.52–0.57), so its bound is looser; both dimensions must
    // still prune far below the 100% baseline.
    assert(byPart < (total * 0.55).toLong,
      s"partkey slice materialized $byPart of $total — no 2-D pruning")
    assert(bySupp < (total * 0.65).toLong,
      s"suppkey slice materialized $bySupp of $total — no 2-D pruning")
    // and the layout is semantics-free: same row count as the original
    assert(z.count() == total)
  }

  test("gzip ingest: gz scan is ONE task regardless of split size; recompressed copy fans out") {
    val (gzDir, pqDir) = Sources.gzipStaged(spark, sf0001)
    // exactly one compressed part on disk
    val gzFiles = new java.io.File(gzDir).listFiles()
      .filter(_.getName.endsWith(".csv.gz"))
    assert(gzFiles.length == 1, s"expected 1 gz part, got ${gzFiles.toSeq}")
    // force tiny splits: a splittable source would fan out into many
    // partitions; gzip CANNOT split, so the scan still plans 1 task —
    // the serialization trap the operator exists to escape
    graft.engine.Sessions.withConf(spark)("spark.sql.files.maxPartitionBytes" -> "2048") {
      val gzParts = spark.read.schema(Sources.gzipIngestSchema)
        .csv(gzDir).rdd.getNumPartitions
      val pqParts = spark.read.parquet(pqDir).rdd.getNumPartitions
      assert(gzParts == 1, s"gz scan planned $gzParts partitions")
      assert(pqParts > 1, s"recompressed scan did not fan out: $pqParts")
    }
    // the text round-trip lost nothing: per-row content identical
    val src = graft.Tables.lineitem(spark, sf0001)
      .selectExpr("l_orderkey", "l_partkey", "l_quantity",
        "l_extendedprice", "l_returnflag")
    assert(spark.read.parquet(pqDir).exceptAll(src).isEmpty
      && src.exceptAll(spark.read.parquet(pqDir)).isEmpty)
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    val df = Sources.dynamicPartitionPruning(spark, sf0001)
    val rows = scanRows(df) // collects + sums FileSourceScan outputs
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no runtime partition filter in the fact scan:\n$plan")
    val total = graft.Tables.events(spark, sf0001).count()
    val expected = graft.Tables.events(spark, sf0001)
      .filter(col("event_type").isin("click", "purchase")).count()
    // fact scan materialized only the 2 matching partitions (+ the tiny
    // dim side also counted by the scan walk)
    assert(rows <= expected + 10,
      s"fact scan read $rows rows — expected ~$expected of $total (no DPP)")
    assert(rows < total, "scan read every partition — DPP did nothing")
  }

  test("compaction collapses the planted 64-file layout and preserves content") {
    val agg = Sources.compactSmallFiles(spark, sf0001).collect()
    def parquetFiles(dir: String) =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
    val small = parquetFiles(graft.Tables.scratchDir("graft_src10_small", sf0001))
    val compact = parquetFiles(graft.Tables.scratchDir("graft_src10_compact", sf0001))
    assert(small.length == 64, s"planted layout: ${small.length} files")
    assert(compact.length < 8, s"compacted layout: ${compact.length} files")
    // content identity vs the original table
    val want = graft.Tables.events(spark, sf0001)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct("event_id").as("n_ids"),
        round(sum("value"), 2).as("value_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val got = agg.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
  }

  test("bucketed as-of: co-bucketed sorted tables join with zero exchanges and zero sorts") {
    // force the tables to exist, then pin the bare join's plan
    Sources.bucketedAsOf(spark, sf0001).collect()
    val (eTbl, oTbl) = {
      val tag = graft.Tables.scratchTag(sf0001)
      (s"graft_ev_asof_$tag", s"graft_ord_asof_$tag")
    }
    val df = Sources.bucketedAsOfPlan(spark, eTbl, oTbl)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"custom exec missing:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed as-of still shuffles — layout not exploited:\n$plan")
    assert(!plan.contains("Sort "),
      s"bucketed as-of still sorts — bucket sort order not exploited:\n$plan")
  }

  test("WAP publish: pointer swap keeps a resolvable table through republish and crash debris") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def versions(root: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("v-"))
        .map(_.getPath.getName).toSet
    Sources.writeAuditPublish(spark, sf0001)
    val root = graft.Tables.scratchDir("graft_src13_pub", sf0001)
    val v1 = Sources.resolvePublished(spark, root)
    val n1 = spark.read.parquet(v1).count()
    assert(n1 > 0)
    // crash window simulation: a version dir landed but the pointer swap
    // never happened — readers must keep resolving the OLD version
    val orphan = new org.apache.hadoop.fs.Path(root, "v-orphan-from-crash")
    fs.mkdirs(orphan)
    assert(Sources.resolvePublished(spark, root) == v1,
      "unreferenced version changed what readers see")
    // republish: pointer moves atomically, the orphan is cleaned, and
    // the retention window (2) keeps exactly {previous, current}
    Sources.writeAuditPublish(spark, sf0001)
    val v2 = Sources.resolvePublished(spark, root)
    assert(v2 != v1, "republish did not produce a fresh version")
    assert(spark.read.parquet(v2).count() == n1)
    assert(versions(root) == Set(v1.split('/').last, v2.split('/').last),
      s"retention window wrong: ${versions(root)}")
    // time travel: one publish back is v1; the third publish evicts it
    assert(Sources.resolveVersion(spark, root, back = 1) == v1)
    Sources.writeAuditPublish(spark, sf0001)
    val v3 = Sources.resolvePublished(spark, root)
    assert(Sources.resolveVersion(spark, root, back = 1) == v2)
    assert(versions(root) == Set(v2.split('/').last, v3.split('/').last),
      s"third publish did not evict v1: ${versions(root)}")
    // beyond the window: hard error, never silently-current data
    intercept[IllegalArgumentException] {
      Sources.resolveVersion(spark, root, back = 2)
    }
  }

  test("incremental manifest scan reads ONLY the files the new snapshot added") {
    import org.apache.spark.sql.functions._
    // run the operator (builds the two-batch store + manifests), then
    // re-derive the consumer's plan and check its scan file set
    Sources.incrementalManifestScan(spark, sf0001).collect()
    val root = graft.Tables.scratchDir("graft_src15_inc", sf0001)
    def manifest(v: Int): Set[String] =
      scala.io.Source.fromFile(
        new java.io.File(s"$root/manifests/v$v.list".stripPrefix("file:")))
        .getLines().filter(_.nonEmpty).toSet
    val v1 = manifest(1)
    val v2 = manifest(2)
    assert(v1.nonEmpty && v1.subsetOf(v2) && (v2 -- v1).nonEmpty)
    val added = (v2 -- v1).toSeq
    val inc = spark.read.parquet(added: _*)
    // the scan's actual inputs are exactly the added files — history is
    // never re-read (compare scheme-stripped paths; inputFiles and the
    // manifest may disagree on the file:/ prefix form)
    def norm(p: String): String = p.replaceFirst("^file:/*", "/")
    val scanned = inc.inputFiles.map(norm).toSet
    assert(scanned == added.map(norm).toSet,
      s"scanned=$scanned vs added=$added")
    // and the incremental slice is the second batch exactly
    val n = inc.count()
    val expected = graft.Tables.events(spark, sf0001)
      .filter(col("ts") >= lit("2024-01-25").cast("timestamp")).count()
    assert(n == expected)
  }

  test("bloom index: point lookup scans a strict subset of data files, result exact") {
    import org.apache.spark.sql.functions._
    val root = Sources.bloomIndexStage(spark, sf0001)
    def norm(p: String): String = p.replaceFirst("^file:/*", "/")
    val allFiles = spark.read.parquet(s"$root/data").inputFiles.map(norm).toSet
    assert(allFiles.size >= 8, "need a multi-file layout for pruning to mean anything")
    // pick a real key and ask the index
    val key = graft.Tables.events(spark, sf0001)
      .select("user_id").head().getLong(0)
    val cand = Sources.bloomCandidates(spark, root, key).map(norm).toSet
    assert(cand.nonEmpty && cand.subsetOf(allFiles))
    // hash-clustered layout: the key lives in ONE file; blooms may add
    // a few false positives but never approach the full file set
    assert(cand.size < allFiles.size / 2,
      s"bloom pruned nothing: ${cand.size} of ${allFiles.size}")
    // no false negatives: every row for the key is in a candidate file
    val rowsAll = graft.Tables.events(spark, sf0001)
      .filter(col("user_id") === key).count()
    val rowsCand = spark.read.parquet(cand.toSeq: _*)
      .filter(col("user_id") === key).count()
    assert(rowsCand == rowsAll)
    // a key absent from the table yields no candidates or fp-only ones
    val ghost = Sources.bloomCandidates(spark, root, -987654321L)
    assert(ghost.size < allFiles.size / 2)
  }

  test("merge-on-read: delete commit leaves data files byte-identical, read applies deletes") {
    import org.apache.spark.sql.functions._
    val root = Sources.morWriteData(spark, sf0001)
    def norm(p: String): String = p.stripPrefix("file:")
    def dataFileHashes(): Map[String, String] = {
      val dir = new java.io.File(norm(s"$root/data"))
      dir.listFiles().filter(_.getName.startsWith("part-")).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        f.getName -> java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("MD5").digest(bytes))
      }.toMap
    }
    val before = dataFileHashes()
    assert(before.size >= 2, "need several data files for (file, pos) deletes")
    Sources.morCommitDelete(spark, root)
    // the MOR contract: deleting rewrote NOTHING in the data dir
    assert(dataFileHashes() == before,
      "delete commit must not touch data files")
    // the delete file is deleted-rows-sized, far smaller than the data
    def dirBytes(sub: String): Long =
      new java.io.File(norm(s"$root/$sub")).listFiles()
        .filter(_.getName.startsWith("part-")).map(_.length).sum
    assert(dirBytes("deletes") < dirBytes("data") / 2,
      s"delete file should be metadata-sized: ${dirBytes("deletes")} vs ${dirBytes("data")}")
    // masked read == plain filter, row for row
    val masked = Sources.morRead(spark, root)
      .agg(count(lit(1)), coalesce(sum("o_orderkey"), lit(0L))).head()
    val direct = graft.Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .agg(count(lit(1)), coalesce(sum("o_orderkey"), lit(0L))).head()
    assert(masked == direct)
  }

  test("wet ingest: 8 gz shards fan out past one task, no record lost or invented") {
    val dir = Sources.wetStaged(spark, sf0001)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    assert(files.length == Sources.wetFiles, s"expected 8 shards, got ${files.length}")
    // per-FILE fan-out: the binaryFile scan must NOT serialize all
    // members through one task the way a single whole-dump .gz would
    // (src19's trap) — at 100k-shard crawl scale this is the whole game
    val recs = Sources.wetRecords(spark, sf0001)
    assert(recs.rdd.getNumPartitions > 1,
      s"shard scan planned ${recs.rdd.getNumPartitions} partition(s)")
    // conservation: ok + bad_record == documents rows (every doc's
    // record either parsed or quarantined — none vanished, none doubled)
    val byStatus = recs.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDocs = graft.Tables.documents(spark, sf0001).count()
    val nBad = graft.Tables.documents(spark, sf0001)
      .filter(col("doc_id") % Sources.wetCorruptMod === Sources.wetCorruptRem)
      .count()
    assert(byStatus("ok") == nDocs - nBad && byStatus("bad_record") == nBad,
      s"$byStatus vs $nDocs docs / $nBad corrupt")
    assert(byStatus("truncated") == Sources.wetFiles)
  }

  test("warc response ingest (src21): conservation vs the quarantine rule, type filter bites") {
    // the response-record path classifies records exactly like the WET
    // path: ok + bad_record = documents, one truncated tail per shard
    val recs = Sources.warcRecordsFrom(spark,
      Sources.warcResponseStaged(spark, sf0001), Set("response"))
    val byStatus = recs.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDocs = graft.Tables.documents(spark, sf0001).count()
    val nBad = graft.Tables.documents(spark, sf0001)
      .filter(col("doc_id") % Sources.wetCorruptMod === Sources.wetCorruptRem)
      .count()
    assert(byStatus("ok") == nDocs - nBad && byStatus("bad_record") == nBad,
      s"$byStatus vs $nDocs/$nBad")
    assert(byStatus("truncated") == Sources.wetFiles)
    // every ok payload is a real HTTP response whose body starts with
    // the page markup — the split the src21 pipeline depends on
    val payload = recs.filter(col("status") === "ok")
      .select("text").head().getString(0)
    assert(payload.startsWith("HTTP/1.1 200 OK\r\n"))
    assert(payload.split("\r\n\r\n", 2)(1).startsWith("<html>"))
    // the keep-type filter really bites: asking for conversion records
    // from a response archive yields no ok rows (quarantine still counted)
    val asWet = Sources.warcRecordsFrom(spark,
      Sources.warcResponseStaged(spark, sf0001), Set("conversion"))
    assert(asWet.filter(col("status") === "ok").count() == 0)
  }

  test("wet parser: quarantines garbled + truncated records, resyncs to the next good one") {
    def gzMembers(recs: Array[Byte]*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      recs.foreach { r =>
        val gz = new java.util.zip.GZIPOutputStream(out)
        gz.write(r); gz.finish()
      }
      out.toByteArray
    }
    def rec(version: String, id: Long, text: String): Array[Byte] =
      (s"$version\r\nWARC-Type: conversion\r\n" +
        s"WARC-Target-URI: http://crawl.test/s/$id\r\n" +
        "WARC-Date: 2024-01-01T00:00:05Z\r\nContent-Type: text/plain\r\n" +
        s"Content-Length: ${text.getBytes("UTF-8").length}\r\n\r\n$text\r\n\r\n")
        .getBytes("UTF-8")
    val truncated = ("WARC/1.0\r\nWARC-Type: conversion\r\n" +
      "WARC-Target-URI: http://crawl.test/s/9\r\n" +
      "Content-Length: 500000\r\n\r\nonly-these-bytes").getBytes("UTF-8")
    val stream = gzMembers(rec("WARC/1.0", 1, "first doc"),
      rec("WARC/0.9", 2, "damaged doc"), rec("WARC/1.0", 3, "third doc"),
      truncated)
    // decompress concatenated members the way the operator does
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(stream))
    val parsed = Sources.parseWet(in.readAllBytes())
    assert(parsed.map(_.status) == Seq("ok", "bad_record", "ok", "truncated"),
      s"statuses: ${parsed.map(_.status)}")
    // the resync must recover record 3 INTACT after the damaged one
    val third = parsed(2)
    assert(third.url == "http://crawl.test/s/3" && third.text == "third doc" &&
      third.mime == "text/plain" &&
      third.fetch_ts.toInstant == java.time.Instant.parse("2024-01-01T00:00:05Z"))
  }

  test("src22: z-order manifest prunes the 2-D box to ≤ half the files; unclustered layout prunes nothing; pruned read ≡ full scan") {
    import org.apache.spark.sql.functions._
    val zDir = Sources.zorderStoreDir(spark, sf0001, clustered = true)
    val zAll = Sources.zorderManifest(spark, zDir).length
    val zHit = Sources.zorderSurvivors(spark, zDir).length
    assert(zAll >= 12, s"range partitioning produced only $zAll files")
    assert(zHit <= zAll / 2,
      s"z-order skipped too little: $zHit of $zAll files survive the box")
    // the same box over an unclustered (hash-ordered) layout: every file
    // spans nearly the full (user, day) rectangle, nothing skips
    val linDir = Sources.zorderStoreDir(spark, sf0001, clustered = false)
    val linHit = Sources.zorderSurvivors(spark, linDir).length
    val linAll = Sources.zorderManifest(spark, linDir).length
    assert(linHit == linAll, s"unclustered layout unexpectedly pruned: $linHit/$linAll")
    assert(zHit < linHit, "z-order layout did not beat the unclustered one")
    // a wrong skip would lose rows: pruned-scan result ≡ full-scan result
    val (ulo, uhi, dlo, dhi) = Sources.zBox
    val pred = col("user_id").between(ulo, uhi) &&
      col("day").between(lit(dlo).cast("date"), lit(dhi).cast("date"))
    val full = spark.read.parquet(zDir).filter(pred).count()
    val pruned = spark.read.parquet(Sources.zorderSurvivors(spark, zDir): _*)
      .filter(pred).count()
    assert(pruned == full && full > 0, s"pruned=$pruned full=$full")
  }

  // AQE-aware scan lookup: executed stages hide under QueryStageExec
  private def fileScans(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case f: FileSourceScanExec => Seq(f)
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
      }.flatten
    scans(df.queryExecution.executedPlan)
  }

  test("src23: the ManifestFileIndex prunes files INSIDE the plan — numFiles == manifest survivors") {
    val df = Sources.fileIndexBoxQuery(spark, sf0001)
    assert(df.collect().nonEmpty) // execute THIS plan so its metrics fill
    val scan = fileScans(df).head
    val scanned = scan.metrics("numFiles").value
    val zDir = Sources.zorderStoreDir(spark, sf0001, clustered = true)
    val all = Sources.zorderManifest(spark, zDir).length
    val survivors = Sources.zorderSurvivors(spark, zDir, Sources.zBox2).length
    assert(scanned == survivors && scanned < all,
      s"plan scanned $scanned files; manifest survivors=$survivors of $all")
    // pruning composes with ANY predicate over the indexed store, not
    // just the declared box — src23's whole point vs src22
    val other = Sources.manifestIndexedStore(spark, sf0001)
      .filter(col("user_id") === 4L)
      .agg(count(lit(1)).as("n"))
    val n4 = other.collect()(0).getLong(0)
    val scanned4 = fileScans(other).head.metrics("numFiles").value
    assert(scanned4 < all, s"point predicate did not prune: $scanned4/$all")
    val raw4 = spark.read.parquet(zDir).filter(col("user_id") === 4L).count()
    assert(n4 == raw4, s"pruned count $n4 != raw $raw4")
  }

  test("src27: STRING predicate prunes files through the manifest — numFiles == string survivors") {
    val df = Sources.stringSkippingQuery(spark, sf0001)
    assert(df.collect().nonEmpty) // execute THIS plan so its metrics fill
    val scanned = fileScans(df).head.metrics("numFiles").value
    val dir = Sources.typeClusteredStoreDir(spark, sf0001)
    val manifest = Sources.typedManifest(spark, dir)
    val (et, uhi) = Sources.typedProbe
    val survivors = manifest.count { case (_, tmin, tmax, umin, _) =>
      tmin <= et && tmax >= et && umin <= uhi }
    assert(scanned == survivors && scanned < manifest.length,
      s"plan scanned $scanned files; survivors=$survivors of ${manifest.length}")
    // a string-ONLY predicate prunes too (the round-12 gap: string
    // filters got zero skipping) and returns exactly the raw answer
    val only = Sources.stringIndexedStore(spark, sf0001)
      .filter(col("event_type") === "signup")
      .agg(count(lit(1)).as("n"))
    val n = only.collect()(0).getLong(0)
    val scannedStr = fileScans(only).head.metrics("numFiles").value
    val strSurvivors = manifest.count { case (_, tmin, tmax, _, _) =>
      tmin <= "signup" && tmax >= "signup" }
    assert(scannedStr == strSurvivors && scannedStr < manifest.length,
      s"string-only predicate: scanned $scannedStr, want $strSurvivors of ${manifest.length}")
    val raw = spark.read.parquet(dir)
      .filter(col("event_type") === "signup").count()
    assert(n == raw, s"string-pruned count $n != raw $raw")
    // an IN-list prunes too: a file survives iff SOME member lies in
    // its [min,max]; the two-value probe must still skip the files
    // covering only the other three event types
    val inq = Sources.stringIndexedStore(spark, sf0001)
      .filter(col("event_type").isin("click", "view"))
      .agg(count(lit(1)).as("n"))
    val nIn = inq.collect()(0).getLong(0)
    val scannedIn = fileScans(inq).head.metrics("numFiles").value
    val inSurvivors = manifest.count { case (_, tmin, tmax, _, _) =>
      Seq("click", "view").exists(v => tmin <= v && tmax >= v) }
    assert(scannedIn == inSurvivors && scannedIn < manifest.length,
      s"IN-list did not prune: scanned $scannedIn, want $inSurvivors of ${manifest.length}")
    val rawIn = spark.read.parquet(dir)
      .filter(col("event_type").isin("click", "view")).count()
    assert(nIn == rawIn, s"IN-pruned count $nIn != raw $rawIn")
  }

  test("src24: count/min/max answered from parquet footers — PushedAggregation, zero rows materialized") {
    val df = Sources.aggregatePushdown(spark, sf0001)
    val row = df.collect()(0)
    val plan = df.queryExecution.executedPlan.toString
    assert("PushedAggregation: \\[[^\\]]+\\]".r.findFirstIn(plan).isDefined,
      s"aggregate not pushed to the parquet scan:\n$plan")
    assert(plan.contains("COUNT(*)") && plan.contains("MIN(l_orderkey)"),
      s"pushed aggregate list incomplete:\n$plan")
    // footer answer ≡ data answer
    val li = graft.Tables.lineitem(spark, sf0001)
    val exp = li.agg(count(lit(1)), min("l_orderkey"), max("l_orderkey")).collect()(0)
    assert(row.getLong(0) == exp.getLong(0) &&
      row.getLong(1) == exp.getLong(1) &&
      row.getLong(2) == exp.getLong(2))
  }

  test("src25: bucket-key rollup over the bucketed store runs with ZERO Exchange") {
    Sources.bucketedRollup(spark, sf0001).collect() // stages the tables
    val (liTbl, _) = Sources.bucketTableNames(sf0001)
    val bare = Sources.bucketedRollupPlan(spark, liTbl)
    val plan = bare.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"expected an aggregate:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucket-key aggregation must not shuffle — scan partitioning satisfies it:\n$plan")
    // and it equals the plain-store rollup
    val viaBuckets = bare.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val plain = graft.Tables.lineitem(spark, sf0001)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
          .as("revenue_cents"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(viaBuckets == plain)
  }

  test("src26: each generation prunes under its OWN spec — gen1 reads only click subdirs, history unrewritten") {
    val dir = Sources.evolvedStoreDir(spark, sf0001)
    val df = Sources.partitionEvolutionQuery(spark, sf0001)
    assert(df.collect().nonEmpty) // execute THIS plan so metrics fill
    def parquets(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(parquets)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    val scans = fileScans(df)
    assert(scans.size == 2, s"expected one scan per generation: ${scans.size}")
    val byGen = scans.map(sc =>
      sc.relation.location.rootPaths.head.toString -> sc).toMap
    val gen0Scan = byGen.collect { case (p, sc) if p.contains("gen0") => sc }.head
    val gen1Scan = byGen.collect { case (p, sc) if p.contains("gen1") => sc }.head
    // the probe range: lo..hi as the operator derives them
    import org.apache.spark.sql.functions._
    val Array(lo, hi) = graft.Tables.events(spark, sf0001).agg(
      date_format(date_add(min(to_date(col("ts"))), 10), "yyyy-MM-dd"),
      date_format(date_add(min(to_date(col("ts"))), 20), "yyyy-MM-dd"))
      .head.toSeq.map(_.toString).toArray
    def inRange(day: String) = day >= lo && day <= hi
    // gen0 (old spec): day dirs prune; event_type is a DATA filter, so
    // every type's files in the range are read — but nothing outside it
    val gen0All = parquets(new java.io.File(s"$dir/gen0")).size
    val gen0Range = new java.io.File(s"$dir/gen0").listFiles()
      .filter(f => f.getName.startsWith("day=") &&
        inRange(f.getName.stripPrefix("day=")))
      .flatMap(parquets).length
    assert(gen0Scan.metrics("numFiles").value == gen0Range &&
      gen0Range < gen0All,
      s"gen0 scanned ${gen0Scan.metrics("numFiles").value}, want $gen0Range of $gen0All")
    // gen1 (evolved spec): BOTH day and event_type prune physically
    val gen1All = parquets(new java.io.File(s"$dir/gen1")).size
    val gen1Click = new java.io.File(s"$dir/gen1").listFiles()
      .filter(f => f.getName.startsWith("day=") &&
        inRange(f.getName.stripPrefix("day=")))
      .flatMap(f => Option(f.listFiles()).toSeq.flatten)
      .filter(_.getName == "event_type=click")
      .flatMap(parquets).length
    assert(gen1Scan.metrics("numFiles").value == gen1Click &&
      gen1Click < gen1All,
      s"gen1 scanned ${gen1Scan.metrics("numFiles").value}, want $gen1Click of $gen1All")
    // spec evolution never rewrites history: gen0 holds NO event_type dirs
    assert(!new java.io.File(s"$dir/gen0").listFiles()
      .flatMap(f => Option(f.listFiles()).toSeq.flatten)
      .exists(_.getName.startsWith("event_type=")))
  }
}
