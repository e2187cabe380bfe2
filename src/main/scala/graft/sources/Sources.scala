package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.engine.Sessions.{noPartitionInference, withConf}
import graft.engine.Staged

/** Source/sink surface beyond csv+parquet scans: JSON lines in/out and
  * partitioned parquet with partition pruning.
  *
  * The reference's only formats are text CSV and SequenceFile
  * (ALS-Hadoop/ALS/ALS.java:228-237, README.txt); JSON and hive-style
  * partitioned parquet are the engine's extension surface — the two
  * formats a training-data pipeline actually ingests/emits.
  */
object Sources {
  import Tables._

  /** JSON-lines sink + schema-enforced JSON scan: round-trip a projection
    * of orders. Explicit schema on read — schema inference over JSON is a
    * full extra pass over the data at 100 TB.
    */
  def jsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = Tables.scratchDir("graft_json", d)
    orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").json(tmp)
    s.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING")
      .json(tmp)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** src19 — COMPRESSED TEXT ingest and the gzip trap: a `.csv.gz` is
    * NOT splittable, so no matter how many executors the cluster has
    * the scan is ONE task — a 100 GB gzip crawl dump serializes its
    * entire read through a single core (spec-pinned: under a tiny
    * `files.maxPartitionBytes` the gz scan still plans exactly 1
    * partition while the recompressed copy fans out). The operator does
    * what a real ingest must: read the gzip once, immediately
    * re-materialize as splittable columnar parquet, and run everything
    * downstream against the parallel copy. Declared output audits
    * content identity — the rollup over the recompressed copy must
    * equal the same rollup straight off the source table (the oracle),
    * so the gz text round-trip provably lost nothing.
    */
  def gzipIngest(s: SparkSession, d: String): DataFrame = {
    val pqDir = gzipStaged(s, d)._2
    s.read.parquet(pqDir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Stages the one-file gz dump and its parquet recompression; returns
    * (gzDir, parquetDir). Exposed for the spec's splittability pin.
    */
  private[graft] def gzipIngestSchema =
    "l_orderkey BIGINT, l_partkey BIGINT, l_quantity DOUBLE, " +
      "l_extendedprice DOUBLE, l_returnflag STRING"

  private[graft] def gzipStaged(s: SparkSession, d: String): (String, String) = {
    val gzDir = Tables.scratchDir("graft_gz", d)
    val pqDir = Tables.scratchDir("graft_gz_pq", d)
    // one .csv.gz part — the shape third-party dumps arrive in
    lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_returnflag")
      .coalesce(1)
      .write.mode("overwrite").option("compression", "gzip").csv(gzDir)
    s.read.schema(gzipIngestSchema).csv(gzDir)
      .write.mode("overwrite").parquet(pqDir)
    (gzDir, pqDir)
  }

  // ---- src20: WARC/WET web-archive ingest ----

  private[graft] val wetFiles = 8          // fixture shards (one gz per task)
  private[graft] val wetCorruptMod = 97    // doc_id % 97 == 13 → garbled record
  private[graft] val wetCorruptRem = 13

  /** One parsed WET record (or a quarantine marker). `status` is `ok`,
    * `bad_record` (unparseable framing — identity untrusted, so no url),
    * or `truncated` (Content-Length overruns the remaining bytes).
    */
  final case class WetRec(status: String, url: String,
      fetch_ts: java.sql.Timestamp, mime: String, text: String)

  /** Serialize one WET conversion record (WARC/1.0 framing: version
    * line, headers, Content-Length-delimited payload, blank-line
    * terminator). `version` is overridable so the fixture can plant a
    * garbled record the parser must quarantine.
    */
  private def warcRecordBytes(docId: Long, source: String,
      payload: Array[Byte], warcType: String, contentType: String,
      version: String): Array[Byte] = {
    val date = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .plusSeconds(docId % 86400L)
    (s"$version\r\n" +
      s"WARC-Type: $warcType\r\n" +
      s"WARC-Target-URI: http://crawl.test/$source/$docId\r\n" +
      s"WARC-Date: $date\r\n" +
      s"Content-Type: $contentType\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8) ++
      payload ++ "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  private def wetRecordBytes(docId: Long, source: String, text: String,
      version: String = "WARC/1.0"): Array[Byte] =
    warcRecordBytes(docId, source,
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      "conversion", "text/plain", version)

  /** Stage the WET fixture: `wetFiles` gzip shards, each a concatenation
    * of PER-RECORD gzip members (Common Crawl's exact framing — the
    * member boundary is what lets record-level tooling seek, and the
    * whole-file gzip codec trap src19 pins is why the reader treats each
    * FILE, not the record, as the parallelism unit). Every shard leads
    * with a warcinfo record and ends with a planted TRUNCATED record
    * (Content-Length past EOF); docs with doc_id % 97 == 13 get a
    * garbled version line — the two corruption modes a real crawl dump
    * actually shows (mid-dump damage, cut-off transfer).
    *
    * The per-task local file writes here are FIXTURE SCAFFOLDING only
    * (valid in local mode, binaryFileIngest's precedent): in production
    * the WET shards already exist on shared storage — they ARE the
    * input — and only the reader below is the production path.
    */
  private[graft] def wetStaged(s: SparkSession, d: String): String =
    Staged.dir(s, "wet", d) {
      val dir = Tables.scratchDir("graft_wet", d)
      val root = new java.io.File(dir)
      if (root.exists()) {
        Option(root.listFiles()).toSeq.flatten.foreach(_.delete())
      }
      root.mkdirs()
      val (cMod, cRem) = (wetCorruptMod, wetCorruptRem)
      documents(s, d).select("doc_id", "source", "text")
        .repartition(wetFiles, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val out = new java.io.FileOutputStream(s"$dir/part-$pid.warc.gz")
          try {
            def member(bytes: Array[Byte]): Unit = {
              val gz = new java.util.zip.GZIPOutputStream(out)
              gz.write(bytes); gz.finish()
            }
            val info = "software: graft-wet-writer\r\n"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            member(("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
              s"Content-Length: ${info.length}\r\n\r\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8) ++ info ++
              "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
            it.foreach { r =>
              val id = r.getLong(0)
              val v = if (id % cMod == cRem) "WARC/0.9" else "WARC/1.0"
              member(wetRecordBytes(id, r.getString(1), r.getString(2), v))
            }
            member(("WARC/1.0\r\nWARC-Type: conversion\r\n" +
              "WARC-Target-URI: http://crawl.test/_tail/0\r\n" +
              "Content-Length: 999999\r\n\r\nshort")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          } finally out.close()
        }
      dir
    }

  /** Parse one decompressed WET byte stream into records, quarantining
    * what can't be trusted instead of aborting the scan (src8's
    * discipline — at 100 TB a single damaged record must cost one row,
    * not the job): a non-`WARC/1.0` version line emits `bad_record` and
    * RESYNCS by scanning to the next `WARC/1.0\r\n` marker (the
    * standard recovery — payloads are length-delimited, so the marker
    * scan is heuristic but collision-free on text corpora); a
    * Content-Length past EOF emits `truncated` and stops. warcinfo and
    * other non-conversion records are skipped per the WET contract.
    */
  private[graft] def parseWet(content: Array[Byte],
      keepTypes: Set[String] = Set("conversion")): Seq[WetRec] = {
    val marker = "WARC/1.0\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = content.length
    def indexOfMarker(from: Int): Int = {
      var i = from
      while (i <= n - marker.length) {
        var j = 0
        while (j < marker.length && content(i + j) == marker(j)) j += 1
        if (j == marker.length) return i
        i += 1
      }
      -1
    }
    val out = scala.collection.mutable.ListBuffer.empty[WetRec]
    var pos = 0
    def readLine(): String = {
      val start = pos
      while (pos < n && content(pos) != '\r'.toByte) pos += 1
      val line = new String(content, start, pos - start,
        java.nio.charset.StandardCharsets.UTF_8)
      pos = math.min(n, pos + 2) // consume \r\n
      line
    }
    while (pos < n) {
      // skip inter-record blank separators
      while (pos + 1 < n && content(pos) == '\r'.toByte &&
        content(pos + 1) == '\n'.toByte) pos += 2
      if (pos < n) {
        val version = readLine()
        if (version != "WARC/1.0") {
          out += WetRec("bad_record", null, null, null, null)
          val nxt = indexOfMarker(pos)
          pos = if (nxt < 0) n else nxt
        } else {
          var headers = Map.empty[String, String]
          var line = readLine()
          while (line.nonEmpty) {
            val i = line.indexOf(':')
            if (i > 0) headers += line.substring(0, i).trim -> line.substring(i + 1).trim
            line = readLine()
          }
          headers.get("Content-Length").flatMap(_.toIntOption) match {
            case Some(len) if pos + len <= n =>
              if (headers.get("WARC-Type").exists(keepTypes) &&
                headers.contains("WARC-Target-URI")) {
                val ts = headers.get("WARC-Date")
                  .map(dt => java.sql.Timestamp.from(java.time.Instant.parse(dt)))
                  .orNull
                out += WetRec("ok", headers("WARC-Target-URI"), ts,
                  headers.getOrElse("Content-Type", "application/octet-stream"),
                  new String(content, pos, len,
                    java.nio.charset.StandardCharsets.UTF_8))
              } // else: warcinfo/request/response records — skip
              pos += len
            case _ =>
              out += WetRec("truncated", null, null, null, null)
              pos = n
          }
        }
      }
    }
    out.toList
  }

  /** The parsed (url, fetch_ts, mime, text) records table — the front
    * door of a corpus run (C4 §2.1, RefinedWeb, FineWeb all start at
    * WET dumps). Parallelism: `binaryFile` scans one row per shard and
    * the flatMap decompresses + parses that shard's members inside the
    * task — per-file fan-out, the unit real crawls shard at (100k
    * WARC files per Common Crawl snapshot), with NO whole-dump gzip
    * single-task trap (src19) because no task ever sees two files.
    * Payload bytes never cross a shuffle — the only downstream moves
    * are on the parsed columns a query asks for.
    */
  private[graft] def wetRecords(s: SparkSession, d: String): DataFrame =
    warcRecordsFrom(s, wetStaged(s, d), Set("conversion"))

  private[graft] def warcRecordsFrom(s: SparkSession, dir: String,
      keepTypes: Set[String]): DataFrame = {
    import s.implicits._
    s.read.format("binaryFile").option("pathGlobFilter", "*.warc.gz")
      .load(dir)
      .select("content").as[Array[Byte]]
      .flatMap { gz =>
        // concatenated gzip members: GZIPInputStream reads them all
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(gz))
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](64 * 1024)
        var k = in.read(chunk)
        while (k >= 0) { buf.write(chunk, 0, k); k = in.read(chunk) }
        in.close()
        parseWet(buf.toByteArray, keepTypes)
      }
      .toDF()
  }

  /** Stage the WARC RESPONSE fixture (src21): the same 8-shard
    * per-record-gzip-member layout as the WET fixture, but each record
    * is a `WARC-Type: response` carrying a full HTTP response —
    * status line, headers, blank line, then the t34 HTML page rendered
    * from the document — exactly what Common Crawl's raw WARC files
    * hold before the WET extraction step. Corruption plants mirror
    * wetStaged's (garbled version line on the same docs, truncated
    * tail per shard). Fixture scaffolding only, like wetStaged.
    */
  private[graft] def warcResponseStaged(s: SparkSession, d: String): String =
    Staged.dir(s, "warc", d) {
      val dir = Tables.scratchDir("graft_warc", d)
      val root = new java.io.File(dir)
      if (root.exists()) Option(root.listFiles()).toSeq.flatten.foreach(_.delete())
      root.mkdirs()
      val (cMod, cRem) = (wetCorruptMod, wetCorruptRem)
      documents(s, d).select("doc_id", "source", "text")
        .repartition(wetFiles, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val out = new java.io.FileOutputStream(s"$dir/part-$pid.warc.gz")
          try {
            def member(bytes: Array[Byte]): Unit = {
              val gz = new java.util.zip.GZIPOutputStream(out)
              gz.write(bytes); gz.finish()
            }
            val info = "software: graft-warc-writer\r\n"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            member(("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
              s"Content-Length: ${info.length}\r\n\r\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8) ++ info ++
              "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
            it.foreach { r =>
              val id = r.getLong(0)
              val html = graft.ops.TextAnalysis.buildHtml(id, r.getString(2))
              val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
                "X-Crawler: graft\r\n\r\n" + html)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val v = if (id % cMod == cRem) "WARC/0.9" else "WARC/1.0"
              member(warcRecordBytes(id, r.getString(1), http, "response",
                "application/http; msgtype=response", v))
            }
            member(("WARC/1.0\r\nWARC-Type: response\r\n" +
              "WARC-Target-URI: http://crawl.test/_tail/0\r\n" +
              "Content-Length: 999999\r\n\r\nshort")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          } finally out.close()
        }
      dir
    }

  /** src21 — the COMPLETE crawl front door: raw WARC response records
    * → HTTP payload split → t34's HTML main-text extraction, in one
    * declared pipeline (src20 handles the pre-extracted WET form; this
    * is the step before it exists). Each ok record's payload is a full
    * HTTP response; the body after the first blank line is the HTML
    * page, and t34's density rules recover the document text. The
    * per-source rollup counts docs, blocks, kept blocks, kept words,
    * and DISTINCT extracted-text digests — all recomputable by the
    * oracle from the documents table because t34's fixture makes the
    * extracted text a token prefix, so agreement proves WARC framing +
    * HTTP split + tag stripping + both density rules end-to-end
    * without the oracle seeing a WARC byte. Narrow per-record work
    * throughout; the only shuffle is the |sources|-row rollup.
    */
  def warcHtmlIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val recs = warcRecordsFrom(s, warcResponseStaged(s, d), Set("response"))
    val parts = split(col("url"), "/")
    val ok = recs.filter(col("status") === "ok")
      .select(element_at(parts, -2).as("source"), col("text").as("payload"))
      .as[(String, String)]
      .map { case (src, payload) =>
        val body = payload.split("\r\n\r\n", 2) match {
          case Array(_, b) => b
          case _ => ""
        }
        val (nb, kb, kw, cleaned) =
          graft.ops.TextAnalysis.extractMainText(body)
        (src, nb, kb, kw, cleaned)
      }
      .toDF("source", "n_blocks", "kept_blocks", "kept_words", "cleaned")
    ok.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_blocks").as("n_blocks"),
        sum("kept_blocks").as("n_kept_blocks"),
        sum("kept_words").as("n_kept_words"),
        countDistinct(md5(col("cleaned"))).as("n_distinct_clean"))
      .orderBy("source")
  }

  /** src20 — the ingest AUDIT a crawl load signs off with: per source
    * (parsed back out of the record URLs) the record count, total text
    * bytes, text mismatches vs the source-of-truth table (0 or the
    * parse corrupted content — the oracle pins 0), and the fetch-time
    * range; quarantined records roll up into their own `_quarantined_*`
    * buckets. Fully oracled: every number is recomputable from the
    * documents table + the deterministic fixture rules (corruption =
    * doc_id % 97 == 13, one truncated tail per shard, fetch time =
    * 2024-01-01 + doc_id % 86400 seconds).
    */
  def wetIngest(s: SparkSession, d: String): DataFrame = {
    val recs = wetRecords(s, d)
    val parts = split(col("url"), "/")
    val ok = recs.filter(col("status") === "ok")
      .withColumn("src", element_at(parts, -2))
      .withColumn("doc_id", element_at(parts, -1).cast("long"))
    val bynSource = ok
      .join(documents(s, d).select(col("doc_id"), col("text").as("dtext")),
        Seq("doc_id"), "left")
      .groupBy(col("src").as("bucket"))
      .agg(count(lit(1)).as("n_records"),
        sum(expr("octet_length(text)")).as("total_text_bytes"),
        sum(when(col("dtext").isNull || col("dtext") =!= col("text"), 1L)
          .otherwise(0L)).as("n_text_mismatch"),
        date_format(min(col("fetch_ts")), "yyyy-MM-dd HH:mm:ss").as("min_fetch"),
        date_format(max(col("fetch_ts")), "yyyy-MM-dd HH:mm:ss").as("max_fetch"))
    def qRow(status: String) = recs.filter(col("status") === status)
      .agg(count(lit(1)).as("n_records"))
      .select(lit(s"_quarantined_$status").as("bucket"), col("n_records"),
        lit(0L).as("total_text_bytes"), lit(0L).as("n_text_mismatch"),
        lit("").as("min_fetch"), lit("").as("max_fetch"))
    bynSource.unionByName(qRow("bad_record"))
      .unionByName(qRow("truncated"))
      .orderBy("bucket")
  }

  /** Hive-style partitioned parquet write + partition-pruned read: the
    * filter on the partition column must prune at planning time (the scan
    * shows `PartitionFilters`, reading 1/5 of the files) — the layout
    * pattern that turns a 100 TB scan into a 20 TB scan.
    */
  def partitionedPruning(s: SparkSession, d: String): DataFrame = {
    val tmp = Tables.scratchDir("graft_part", d)
    orders(s, d)
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
    s.read.parquet(tmp)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("revenue"),
        min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"))
      .orderBy("o_orderpriority")
  }

  /** Bucketed co-located join: both sides written bucketBy(join key) with
    * the same bucket count, then sort-merge-joined with NO shuffle on
    * either side — at 100 TB this is the difference between re-shuffling
    * two fact tables per join and a map-side merge of pre-sorted buckets.
    * The no-Exchange property is pinned in SourcesSpec; here the join
    * feeds an aggregate so the result is small and oracle-able.
    */
  /** src18 — AVRO sink + scan round-trip. The `spark-avro` DataSource is
    * not on this classpath, but Avro's own `avro-mapred` IS (it ships
    * with Spark for its shuffle internals), so the format is driven
    * through the Hadoop InputFormat/OutputFormat bridge instead: rows →
    * GenericRecord inside each write task (`AvroKeyOutputFormat`, one
    * container file per task — the sink is as parallel as the RDD), and
    * the scan is `AvroKeyInputFormat`, which SPLITS on Avro block
    * boundaries — so a 100 TB Avro ingest fans out exactly like parquet.
    * The Avro `Schema` is parsed from JSON inside each task (the class
    * predates serializable schemas); records never cross a shuffle, so
    * no Avro type touches a serializer. Field values are copied out of
    * the reader's reused record immediately (datum reuse is the classic
    * Hadoop-bridge trap). Readback feeds src4's aggregate shape, oracled
    * against the parquet original — bytes through Avro and back must
    * change nothing.
    */
  def avroRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericRecord}
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
    import org.apache.hadoop.io.NullWritable
    import org.apache.hadoop.mapreduce.Job
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._

    val schemaJson =
      """{"type":"record","name":"lineitem_slice","fields":[
        |{"name":"l_orderkey","type":"long"},
        |{"name":"l_suppkey","type":"long"},
        |{"name":"l_quantity","type":"double"},
        |{"name":"l_returnflag","type":"string"}]}""".stripMargin
    val tmp = Tables.scratchDir("graft_avro", d)
    val conf = s.sparkContext.hadoopConfiguration
    val outPath = new org.apache.hadoop.fs.Path(tmp)
    outPath.getFileSystem(conf).delete(outPath, true)

    val writeJob = Job.getInstance(conf)
    AvroJob.setOutputKeySchema(writeJob, new Schema.Parser().parse(schemaJson))
    lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_quantity", "l_returnflag")
      .rdd.mapPartitions { it =>
        val sch = new Schema.Parser().parse(schemaJson)
        it.map { r =>
          val rec = new GenericData.Record(sch)
          rec.put("l_orderkey", r.getLong(0))
          rec.put("l_suppkey", r.getLong(1))
          rec.put("l_quantity", r.getDouble(2))
          rec.put("l_returnflag", r.getString(3))
          (new AvroKey[GenericRecord](rec), NullWritable.get())
        }
      }
      .saveAsNewAPIHadoopFile(tmp, classOf[AvroKey[GenericRecord]],
        classOf[NullWritable], classOf[AvroKeyOutputFormat[GenericRecord]],
        writeJob.getConfiguration)

    val readJob = Job.getInstance(conf)
    AvroJob.setInputKeySchema(readJob, new Schema.Parser().parse(schemaJson))
    val rows = s.sparkContext.newAPIHadoopFile(tmp,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]], classOf[NullWritable],
        readJob.getConfiguration)
      .mapPartitions(_.map { case (k, _) =>
        val rec = k.datum()
        Row(rec.get("l_orderkey").asInstanceOf[Long],
          rec.get("l_suppkey").asInstanceOf[Long],
          rec.get("l_quantity").asInstanceOf[Double],
          rec.get("l_returnflag").toString)
      })
    val back = s.createDataFrame(rows, StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_suppkey", LongType),
      StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType))))
    back
      .filter(col("l_returnflag") =!= "N")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 4).as("sum_qty"),
        countDistinct("l_suppkey").as("n_supp"))
      .orderBy("l_returnflag")
  }

  /** ORC sink + scan round-trip (the second columnar format Spark ships;
    * the Avro DataSource is absent too — src18 drives that format through
    * the Hadoop bridge instead). Predicate pushdown and column
    * pruning work on ORC exactly as on parquet — the filter below reaches
    * the ORC reader.
    */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = Tables.scratchDir("graft_orc", d)
    lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .filter(col("l_returnflag") =!= "N")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 4).as("sum_qty"),
        countDistinct("l_suppkey").as("n_supp"))
      .orderBy("l_returnflag")
  }

  /** CSV sink + scan under adversarial content: embedded delimiters,
    * quotes, newlines, and backslashes round-trip through RFC-4180
    * double-quote escaping (escape = quote char) with a multiLine read.
    * The default `\`-escape + single-line read silently corrupts exactly
    * this content — the classic source-layer data-loss trap. The oracle
    * recomputes from the base table, so any corruption hash-mismatches.
    */
  def csvEscapingRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = Tables.scratchDir("graft_csvesc", d)
    nation(s, d)
      .select(col("n_nationkey"),
        concat(col("n_name"), lit(", \"x\"\nline\\2")).as("tricky"))
      .write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .csv(tmp)
    s.read
      .schema("n_nationkey BIGINT, tricky STRING")
      .option("header", "true").option("escape", "\"").option("multiLine", "true")
      .csv(tmp)
      .select(col("n_nationkey"),
        length(col("tricky")).cast("int").as("n_len"),
        md5(col("tricky")).as("tricky_md5"))
      .orderBy("n_nationkey")
  }

  /** PERMISSIVE CSV scan with corrupt-record capture — the OTHER half of
    * o1's FAILFAST contract: a 100 TB ingest cannot abort on row 3
    * billion, it must land bad rows in a quarantine column and keep an
    * auditable count. Every 5th staged line is deliberately malformed
    * (non-numeric key); the scan parses good rows and captures bad lines
    * whole in `_corrupt_record`. The result reports good/bad counts and
    * a checksum over the good keys — so a parser that silently dropped
    * or misparsed anything hash-mismatches the oracle.
    */
  def csvBadRecords(s: SparkSession, d: String): DataFrame = {
    val tmp = Tables.scratchDir("graft_badcsv", d)
    nation(s, d)
      .select(concat_ws(",",
        when(col("n_nationkey") % 5 === 0, concat(lit("x"), col("n_nationkey")))
          .otherwise(col("n_nationkey").cast("string")),
        col("n_name")).as("value"))
      .write.mode("overwrite").text(tmp)
    // cache: Spark refuses filters that touch ONLY the corrupt-record
    // column on a lazily parsed CSV relation (internal-row aliasing);
    // materializing first is the documented pattern
    val parsed = s.read
      .schema("n_nationkey BIGINT, n_name STRING, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(tmp)
      .cache()
    parsed.agg(
      count(col("n_nationkey")).as("n_good"),
      count(col("_corrupt_record")).as("n_bad"),
      sum("n_nationkey").as("good_key_sum"))
  }

  /** Schema-evolution read: two parquet batches written over the table's
    * life — an early one WITHOUT the priority column, a later one with
    * it — unioned by a `mergeSchema` scan that fills pre-evolution rows
    * with NULL. The drift-tolerant read every long-lived 100 TB dataset
    * eventually needs; without mergeSchema the scan takes one footer's
    * schema and silently drops the evolved column from the other batch.
    */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val tmp = Tables.scratchDir("graft_evo", d)
    val o = orders(s, d)
    o.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$tmp/batch1")
    o.filter(col("o_orderkey") % 2 =!= 0)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$tmp/batch2")
    s.read.option("mergeSchema", "true").parquet(s"$tmp/batch1", s"$tmp/batch2")
      .groupBy(coalesce(col("o_orderpriority"), lit("(pre-evolution)")).as("prio"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("prio")
  }

  /** XML sink + scan round-trip (native `xml` source, in-core since
    * Spark 4.0). Explicit schema on read — like JSON, XML schema
    * inference is a full extra pass at scale. The rowTag framing means
    * the reader splits files on element boundaries, so parallelism is
    * per-file; at 100 TB, land XML as MANY files (it is not a splittable
    * format the way parquet is) or convert to columnar at ingest — this
    * query documents the round-trip contract, not a recommendation to
    * keep XML as a working format.
    */
  def xmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = Tables.scratchDir("graft_xml", d)
    supplier(s, d)
      .write.mode("overwrite").format("xml")
      .option("rootTag", "suppliers").option("rowTag", "supplier")
      .save(tmp)
    s.read.format("xml")
      .schema("s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, s_acctbal DOUBLE")
      .option("rowTag", "supplier")
      .load(tmp)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), round(sum("s_acctbal"), 2).as("acctbal_sum"))
      .orderBy("s_nationkey")
  }

  /** JDBC source/sink round-trip against embedded Derby (on the Spark
    * classpath) — the in-container stand-in for a networked RDBMS; the
    * API surface exercised here (partitioned parallel read, predicate
    * pushdown into the remote WHERE clause) is identical for any JDBC
    * URL. The read declares partitionColumn/numPartitions so the scan
    * issues one range-bounded query per partition — at scale THE
    * difference between one connection dragging the whole table and N
    * parallel range scans — and the `n_nationkey < 20` filter is pushed
    * into the remote query (PushedFilters on the JDBCRelation scan,
    * pinned in SourcesSpec). Embedded Derby is single-JVM, so the write
    * coalesces to one connection; a networked target takes the parallel
    * write path unchanged.
    */
  def jdbcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val url = s"jdbc:derby:${Tables.scratchDir("graft_derby", d)}/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    nation(s, d)
      .select("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1) // embedded derby: one writer connection
      .write.mode("overwrite").jdbc(url, "nation_rt", props)
    s.read
      .option("partitionColumn", "n_nationkey")
      .option("numPartitions", "3")
      .option("lowerBound", "0").option("upperBound", "25")
      .jdbc(url, "nation_rt", props)
      .filter(col("n_nationkey") < 20)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), sum("n_nationkey").as("key_sum"))
      .orderBy("n_regionkey")
  }

  private[graft] def bucketTableNames(d: String): (String, String) = {
    val tag = Tables.scratchTag(d)
    (s"graft_li_bkt_$tag", s"graft_o_bkt_$tag")
  }

  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val base = Tables.scratchDir("graft_bucket", d)
    val (liTbl, oTbl) = bucketTableNames(d)
    writeBucketed(s, lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount"),
      "l_orderkey", s"$base/li", liTbl)
    writeBucketed(s, orders(s, d).select("o_orderkey", "o_orderpriority"),
      "o_orderkey", s"$base/o", oTbl)
    bucketedJoinPlan(s, liTbl, oTbl)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  private[graft] def writeBucketed(s: SparkSession, df: DataFrame,
      key: String, path: String, table: String, buckets: Int = 8,
      sortCols: Seq[String] = Nil): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val sorted = if (sortCols.isEmpty) Seq(key) else sortCols
    // one file per bucket, ALWAYS: repartition on the key uses the same
    // murmur3 hash bucketBy does, so each task emits exactly its bucket.
    // This is the invariant that makes the session-level
    // bucketedTableScan.outputOrdering flag safe (see Sessions.configure)
    // — scans then report the sortBy order and downstream sort-demanding
    // operators skip their Sort entirely.
    df.repartition(buckets, col(key)).write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key).sortBy(sorted.head, sorted.tail: _*)
      .saveAsTable(table)
  }

  /** j14 — the custom as-of operator over CO-BUCKETED, bucket-sorted
    * tables: both sides bucketed 8-ways on the join key and sorted by
    * (key, time), written one file per bucket (repartition on the key
    * uses the same murmur3 hash bucketBy does, so each task emits
    * exactly its bucket — the single-file condition under which the
    * scan reports its sort order). AsOfJoinExec declares
    * ClusteredDistribution + (key, time) ordering, and EnsureRequirements
    * finds BOTH already satisfied by the scans — the join runs with ZERO
    * exchanges and ZERO sorts (spec-pinned), the layout-amortization
    * story every repeated as-of workload wants at 100 TB: pay the
    * layout once, join forever free. Shares j6/j12's oracle verbatim —
    * bucketing must not change a single row.
    */
  def bucketedAsOf(s: SparkSession, d: String): DataFrame = {
    val base = Tables.scratchDir("graft_bucket_asof", d)
    val tag = Tables.scratchTag(d)
    val (eTbl, oTbl) = (s"graft_ev_asof_$tag", s"graft_ord_asof_$tag")
    val buckets = 8
    val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
    writeBucketed(s, ev, "user_id", s"$base/ev", eTbl, buckets,
      Seq("user_id", "ts"))
    val o = orders(s, d)
      .groupBy(col("o_custkey").as("o_user"), col("o_orderdate").as("ots"))
      .agg(max("o_orderkey").as("ok"),
        expr("max_by(o_totalprice, o_orderkey)").as("price"))
    writeBucketed(s, o, "o_user", s"$base/o", oTbl, buckets,
      Seq("o_user", "ots"))
    bucketedAsOfPlan(s, eTbl, oTbl)
      .select(col("event_id"), col("user_id"),
        col("ok").as("last_orderkey"),
        round(col("price"), 2).as("last_price"))
      .orderBy("event_id")
  }

  /** The bare bucketed as-of join — the plan SourcesSpec pins as
    * exchange-free AND sort-free.
    */
  private[graft] def bucketedAsOfPlan(s: SparkSession, eTbl: String,
      oTbl: String): DataFrame =
    graft.plans.AsOf.join(s.table(eTbl), s.table(oTbl),
      "user_id", "o_user", "ts", "ots")

  /** The bare co-located join (no agg) — the plan SourcesSpec asserts is
    * Exchange-free. merge hint: a broadcastable small side would otherwise
    * hide the bucketing property this query exists to demonstrate.
    */
  private[graft] def bucketedJoinPlan(s: SparkSession, liTbl: String, oTbl: String): DataFrame =
    s.table(liTbl).hint("merge")
      .join(s.table(oTbl), col("l_orderkey") === col("o_orderkey"))

  /** src10 — small-file compaction: the housekeeping job every long-lived
    * 100 TB table needs. Plants the problem (a 64-way over-partitioned
    * write of events — the shape a streaming sink or over-parallel ETL
    * leaves behind), then compacts by BYTE SIZE, not row count: target
    * partition count = ceil(input bytes / targetBytes), from a
    * filesystem listing (pure metadata — on HDFS/S3 the same numbers
    * come from the FileSystem/ListObjects API; no data is read to plan).
    * The audit aggregate runs over the COMPACTED files and must equal
    * the oracle over the ORIGINAL table — compaction is bit-preserving
    * or it is wrong. File-count collapse is pinned in SourcesSpec.
    */
  def compactSmallFiles(s: SparkSession, d: String,
      targetBytes: Long = 8L << 20): DataFrame = {
    val small = Tables.scratchDir("graft_src10_small", d)
    val out = Tables.scratchDir("graft_src10_compact", d)
    events(s, d).repartition(64).write.mode("overwrite").parquet(small)
    val bytes = new java.io.File(small).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    s.read.parquet(small).repartition(n).write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct("event_id").as("n_ids"),
        round(sum("value"), 2).as("value_sum"))
      .orderBy("event_type")
  }

  /** src11 — sort-clustered layout (the poor man's Z-order): range-
    * partition lineitem by ship date and sort within partitions, so each
    * output file owns a disjoint date slice and every parquet row group
    * carries tight min/max stats on the clustering key. A date-range
    * scan then skips whole files/row groups via the pushed predicate —
    * the read-side payoff is pinned in SourcesSpec (the clustered scan
    * materializes a small fraction of the table's rows; the same scan on
    * the UNCLUSTERED layout materializes all of them). At 100 TB this is
    * the difference between a time-slice query costing proportional to
    * the slice vs to the corpus. The audit aggregate over the clustered
    * copy must equal the oracle over the original table — layout changes
    * nothing semantically.
    */
  private[graft] def sortedLayoutDir(s: SparkSession, d: String): String = {
    val out = Tables.scratchDir("graft_src11_sorted", d)
    // Two measured pushdown traps (probed on this Spark build): INT96
    // timestamps carry unusable stats, and TIMESTAMP_NTZ predicates are
    // listed in PushedFilters but never become parquet row-group filters
    // (the scan still materializes every row). Clustering is only worth
    // its sort if the reader can skip, so the layout stores the key as a
    // session-zone timestamp in INT64 micros — the one encoding this
    // reader provably skips on.
    withConf(s)("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      lineitem(s, d)
        .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
        .repartitionByRange(16, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate", "l_orderkey", "l_linenumber")
        .write.mode("overwrite").parquet(out)
    }
    out
  }

  def sortedClusteredScan(s: SparkSession, d: String): DataFrame =
    s.read.parquet(sortedLayoutDir(s, d))
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1998-02-01").cast("timestamp"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("price_sum"))
      .orderBy("l_returnflag")

  /** src12 — Z-order (Morton curve) layout: bit-interleave TWO
    * clustering keys into one z-value, range-partition + sort the table
    * on it. Where src11's one-dimensional sort gives tight file/row-group
    * min/max stats on its own key only, the Morton order keeps rows that
    * are close in EITHER key physically close, so each file's stats
    * envelope is a small rectangle in (partkey, suppkey) space and a
    * slice predicate on either dimension skips most files. The
    * coordinates are normalized to 16 bits from a one-row min/max agg
    * (broadcast into the expression as literals) and the interleave is a
    * fold of codegen'd shift/mask builtins — no UDF anywhere in the
    * write path, so the layout job is a plain exchange + local sort at
    * any scale. The audit aggregate over the z-ordered copy must equal
    * the oracle over the original table (layout is semantics-free);
    * the two-dimensional skipping payoff is pinned in SourcesSpec.
    */
  private[graft] def zorderLayoutDir(s: SparkSession, d: String): String = {
    val out = Tables.scratchDir("graft_src12_zorder", d)
    val li = lineitem(s, d)
    val b = li.agg(
      min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).head()
    if (b.isNullAt(0)) {
      // empty table: min/max are null and there is nothing to cluster —
      // degrade to a plain (empty) write instead of an NPE
      li.write.mode("overwrite").parquet(out)
      return out
    }
    def coord(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      ((c - lit(lo)).cast("double") * 65535.0 /
        math.max(1L, hi - lo).toDouble).cast("long")
    val x = coord(col("l_partkey"), b.getLong(0), b.getLong(1))
    val y = coord(col("l_suppkey"), b.getLong(2), b.getLong(3))
    val z = (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
    li.repartitionByRange(16, z).sortWithinPartitions(z)
      .write.mode("overwrite").parquet(out)
    out
  }

  /** The declared z-order query slices on l_suppkey — deliberately the
    * SECOND interleaved dimension, the one a plain sort-by-partkey
    * layout cannot skip on at all.
    */
  def zorderClusteredScan(s: SparkSession, d: String): DataFrame =
    s.read.parquet(zorderLayoutDir(s, d))
      .filter(col("l_suppkey") <= 2)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("price_sum"))
      .orderBy("l_returnflag")

  /** src13 — write-audit-publish (WAP): the batch is written to a
    * STAGING path, audited there (row count, key nullability/uniqueness
    * — dq1's constraints in miniature), and only on a clean audit
    * published. A failed audit leaves the published data untouched and
    * the staging dir behind for forensics — readers can never observe a
    * partial or bad batch, which `write.mode(overwrite)` straight to
    * the serving path cannot promise. Publication is a VERSIONED-dir +
    * pointer swap: the staging dir is renamed to a fresh version dir
    * under the publish root (invisible — no reader resolves it yet),
    * then the `_current` pointer file is atomically replaced
    * (`FileContext.rename(OVERWRITE)`), so there is NO instant at which
    * the published table is absent — the previous delete-then-rename
    * had exactly that crash/read window. Superseded versions are
    * cleaned AFTER the swap. On object stores the same pattern swaps a
    * metastore pointer (cat1's `saveAsTable` tables) instead of a file.
    * The declared query reads through the pointer; its aggregate must
    * equal the oracle over the source table — publication is
    * semantics-free.
    */
  def writeAuditPublish(s: SparkSession, d: String): DataFrame = {
    val staging = Tables.scratchDir("graft_src13_stage", d)
    val root = Tables.scratchDir("graft_src13_pub", d)
    val batch = orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    batch.write.mode("overwrite").parquet(staging)
    val audited = s.read.parquet(staging)
    val a = audited.agg(
      count(lit(1)).as("n"),
      count(when(col("o_orderkey").isNull, true)).as("null_keys"),
      (count(lit(1)) - countDistinct("o_orderkey")).as("dup_keys")).head()
    require(a.getLong(0) > 0 && a.getLong(1) == 0 && a.getLong(2) == 0,
      s"audit failed: $a — batch NOT published")
    publishVersion(s, staging, root)
    s.read.parquet(resolvePublished(s, root))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Atomic pointer-swap publication with RETENTION: rename `staging` to
    * a fresh version dir under `root`, atomically replace the `_current`
    * pointer file — which holds the retained version HISTORY, one name
    * per line, last = live — then delete version dirs that fell off the
    * retention window. One file is the single source of truth for both
    * "what is current" and "what can be time-traveled to", so the swap
    * updates both atomically. Readers go through [[resolvePublished]] /
    * [[resolveVersion]] and therefore always see a complete version —
    * before, during, and after a publish (or a crash at ANY point here:
    * the worst case is an orphaned unreferenced version dir).
    */
  private[graft] def publishVersion(s: SparkSession, staging: String,
      root: String, retain: Int = 2): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    fs.mkdirs(rootPath)
    val version = new org.apache.hadoop.fs.Path(rootPath,
      s"v-${java.util.UUID.randomUUID()}")
    require(fs.rename(new org.apache.hadoop.fs.Path(staging), version),
      "staging → version rename failed")
    val keep = (versionLog(s, root) :+ version.getName).takeRight(retain)
    val tmp = new org.apache.hadoop.fs.Path(rootPath, "_current.tmp")
    val out = fs.create(tmp, true)
    try out.write(keep.mkString("\n").getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(rootPath.toUri, conf)
      .rename(tmp, new org.apache.hadoop.fs.Path(rootPath, "_current"),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    fs.listStatus(rootPath)
      .filter(st => st.isDirectory && !keep.contains(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** The retained version names, oldest first; empty before any publish. */
  private[graft] def versionLog(s: SparkSession, root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root, "_current")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      text.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    }
  }

  /** The published view: the last version in the pointer history. */
  private[graft] def resolvePublished(s: SparkSession, root: String): String =
    s"$root/${versionLog(s, root).last}"

  /** Time travel: the version `back` publishes before the current one
    * (0 = current). Throws if the version fell off the retention window
    * — a deleted snapshot must be an error, not silently-current data.
    */
  private[graft] def resolveVersion(s: SparkSession, root: String,
      back: Int): String = {
    val log = versionLog(s, root)
    require(back < log.size,
      s"version $back publishes back not retained (${log.size} in window)")
    s"$root/${log(log.size - 1 - back)}"
  }

  /** src14 — TIME TRAVEL over the versioned publish store: two
    * publishes land in src13's pointer-history layout (retain = 2), and
    * the query reads BOTH the live version and the previous one —
    * "what did this table say before the last restatement", the audit /
    * reproducibility primitive every lakehouse table format exposes
    * (Delta VERSION AS OF, Iceberg snapshot ids) rebuilt from the same
    * pointer-swap machinery. History and currency share ONE atomically
    * swapped file, so a reader can never see a current/history
    * disagreement; snapshots past the retention window throw instead of
    * silently serving current data. Staged: v1 = even-keyed orders,
    * v2 = all orders; the oracle recomputes both aggregates from the
    * raw table.
    */
  def timeTravelRead(s: SparkSession, d: String): DataFrame = {
    val root = Tables.scratchDir("graft_src14_pub", d)
    val staging = Tables.scratchDir("graft_src14_stage", d)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true) // deterministic 2-publish history
    val base = orders(s, d).select("o_orderkey", "o_orderpriority", "o_totalprice")
    def publish(df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(staging)
      publishVersion(s, staging, root)
    }
    publish(base.filter(pmod(col("o_orderkey"), lit(2)) === 0))
    publish(base)
    def agg(path: String, tag: String) =
      s.read.parquet(path).agg(
        count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("revenue"))
        .select(lit(tag).as("version"), col("n"), col("revenue"))
    agg(resolvePublished(s, root), "current")
      .unionByName(agg(resolveVersion(s, root, back = 1), "previous"))
      .orderBy("version")
  }

  /** src15 — INCREMENTAL read between table snapshots via MANIFESTS
    * (Iceberg's incremental-scan primitive rebuilt on plain parquet):
    * each ingest batch appends data files and records the table's file
    * list as a versioned manifest; a consumer that is current as of v1
    * reads ONLY the files manifest(v2) adds over manifest(v1) — planning
    * is a metadata diff, and the scan touches the delta, never the
    * accumulated table. This is how a downstream job tails a 100 TB
    * append table without re-reading history: file lists are
    * metadata-sized (names, not data), the set diff happens driver-side
    * on those names, and the data read is batch-2-sized. The aggregate
    * over the incremental slice is exactly oracled (= the second
    * batch's rows); SourcesSpec pins the SCAN property — the
    * incremental read's input files are precisely the added files.
    */
  def incrementalManifestScan(s: SparkSession, d: String): DataFrame = {
    val root = Tables.scratchDir("graft_src15_inc", d)
    val hp = new org.apache.hadoop.fs.Path(root)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true) // deterministic two-batch history per run
    val dataDir = s"$root/data"
    def dataFiles(): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dataDir))
        .map(_.getPath.toString).filter(_.contains("/part-")).sorted.toSeq
    def writeManifest(v: Int, files: Seq[String]): Unit = {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$root/manifests/v$v.list"), true)
      try out.write(files.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    def readManifest(v: Int): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$root/manifests/v$v.list"))
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    }
    val ev = events(s, d).select(
      col("event_id"), col("ts"), col("user_id"), col("value"))
    val cut = lit("2024-01-25").cast("timestamp")
    ev.filter(col("ts") < cut).write.mode("append").parquet(dataDir)
    writeManifest(1, dataFiles())
    ev.filter(col("ts") >= cut).write.mode("append").parquet(dataDir)
    writeManifest(2, dataFiles())
    // the consumer: current as of v1, catching up to v2 — metadata diff,
    // then a scan of ONLY the added files
    val have = readManifest(1).toSet
    val added = readManifest(2).filterNot(have)
    s.read.parquet(added: _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum("value"), 4).as("sum_value"))
  }

  /** src16 — MERGE-ON-READ with POSITION DELETES (Iceberg v2 delete
    * files / Delta deletion vectors rebuilt on plain parquet): a delete
    * commit writes a metadata-sized DELETE FILE of (data file, row
    * ordinal) pairs instead of rewriting data files; the reader subtracts
    * deleted positions with a broadcast anti-join at scan time. At 100 TB
    * this is the difference between a delete whose write cost is
    * proportional to every touched data file (copy-on-write) and one
    * whose write cost is proportional to the DELETED ROWS — the rewrite
    * is deferred to the next compaction pass (src10), which is when
    * accumulated delete files get folded in and the broadcast stays
    * small. Positions come from the parquet scan's `_metadata.row_index`
    * (stable row ordinal within a file), so the delete file pins exact
    * physical rows and stays valid even if the predicate columns are
    * later updated — the property equality deletes cannot give.
    * SourcesSpec pins the MOR contract: the delete commit leaves every
    * data file byte-identical, and the masked read equals a plain filter.
    *
    * The reference has no deletes at all — its rating matrix is written
    * once per MR job (ALS-Hadoop/ALS/ALS.java:228-237); this is the
    * extension surface a mutable 100 TB corpus needs.
    */
  private[graft] def morWriteData(s: SparkSession, d: String): String = {
    val root = Tables.scratchDir("graft_src16_mor", d)
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
    orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .repartition(4) // several data files: deletes must address (file, pos)
      .write.parquet(s"$root/data")
    root
  }

  /** The delete commit: positions of matching rows, nothing else written. */
  private[graft] def morCommitDelete(s: SparkSession, root: String): Unit =
    s.read.parquet(s"$root/data")
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"),
        col("o_orderpriority"))
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("file_path", "pos")
      .write.mode("overwrite").parquet(s"$root/deletes")

  /** The MOR reader: data minus delete-file positions. The delete side is
    * deleted-rows-sized (and per-file in a real format), so broadcast is
    * the right shape; when deletes accumulate past that, compaction — not
    * a bigger join — is the remedy.
    */
  private[graft] def morRead(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/data")
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("pos", col("_metadata.row_index"))
      .join(broadcast(s.read.parquet(s"$root/deletes")),
        Seq("file_path", "pos"), "left_anti")
      .drop("file_path", "pos")

  def mergeOnReadDeletes(s: SparkSession, d: String): DataFrame = {
    val root = morWriteData(s, d)
    morCommitDelete(s, root)
    morRead(s, root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** src17 — FILE-LEVEL BLOOM INDEX for point lookups (the Parquet
    * bloom-filter / Iceberg puffin sidecar pattern, built explicitly so
    * the pruning is observable): the table is hash-clustered on the
    * lookup key at write time, a metadata pass builds one small bloom
    * per data file (distributed: per-(file, word) bit_or of per-key bit
    * contributions — never a per-file collect), and a point lookup
    * consults the index first, scanning ONLY files whose bloom contains
    * the key. At 100 TB the index is file-count-sized (KBs per file,
    * read in one metadata-sized scan), and a needle query touches one
    * file instead of the table — the layout+index combination src11/
    * src12 provide for ranges, specialized to equality. Hash functions
    * are the re-hash family xxhash64(seed, key) (the ANSI-safe
    * discipline — no affine remixing); build and probe share the exact
    * expression so the bits line up by construction.
    */
  private[graft] val bloomBits = 4096

  private[graft] def bloomIndexStage(s: SparkSession, d: String): String = {
    val root = Tables.scratchDir("graft_src17_bloom", d)
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
    events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .repartition(16, col("user_id")) // hash-clustered: a key lives in ONE file
      .write.parquet(s"$root/data")
    // metadata pass → per-file bloom, fully distributed
    s.read.parquet(s"$root/data")
      .select(col("_metadata.file_path").as("f"), col("user_id")).distinct()
      .withColumn("seed", explode(sequence(lit(0), lit(2))))
      .withColumn("pos",
        pmod(xxhash64(col("seed"), col("user_id")), lit(bloomBits)))
      .select(col("f"), expr("pos div 64").as("w"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("mask"))
      .groupBy("f", "w").agg(bit_or(col("mask")).as("word"))
      .write.parquet(s"$root/index")
    root
  }

  /** Files whose bloom reports the key present — the only files a point
    * lookup scans. The collect is index-sized (≤ #files rows).
    */
  private[graft] def bloomCandidates(s: SparkSession, root: String,
      key: Long): Seq[String] = {
    val probe = s.range(1)
      .withColumn("seed", explode(sequence(lit(0), lit(2))))
      .withColumn("pos",
        pmod(xxhash64(col("seed"), lit(key)), lit(bloomBits)))
      .select(expr("pos div 64").as("w"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("mask"))
    s.read.parquet(s"$root/index").join(probe, Seq("w"))
      .filter((col("word").bitwiseAND(col("mask"))) === col("mask"))
      .groupBy("f").agg(count(lit(1)).as("nhits"))
      .filter(col("nhits") >= 3)
      .select("f").collect().map(_.getString(0)).toSeq
  }

  def bloomPointLookup(s: SparkSession, d: String, key: Long = 42L): DataFrame = {
    val root = bloomIndexStage(s, d)
    val cand = bloomCandidates(s, root, key)
    val scanned =
      if (cand.isEmpty) s.read.parquet(s"$root/data").limit(0)
      else s.read.parquet(cand: _*)
    scanned.filter(col("user_id") === key)
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(lit(key).as("user_id"), col("n_events"), col("sum_value"))
  }

  /** j13 — DYNAMIC partition pruning: the fact table is partitioned on
    * the join key, the dim side's filter is only known at runtime, and
    * Spark turns the broadcast dim into a partition filter on the fact
    * scan (`dynamicpruning` subquery) — so the fact side reads ONLY the
    * partitions the filtered dim can match, without the user writing the
    * partition predicate themselves. src2 pins the static half (literal
    * predicate → pruned scan); this is the half that matters for star
    * joins at 100 TB, where the selective predicate lives on the dim.
    * Plan + scan-fraction pinned in SourcesSpec; the audit aggregate is
    * the oracle.
    */
  private[graft] def dppFactDir(s: SparkSession, d: String): String = {
    val dir = Tables.scratchDir("graft_j13_fact", d)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)
    dir
  }

  def dynamicPartitionPruning(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fact = s.read.parquet(dppFactDir(s, d))
    // runtime-filtered dim: which event types are billable-tier is DATA the
    // planner only sees through the join, never as a literal on the
    // fact. The dim lives in parquet — an in-memory LocalRelation would
    // constant-fold the filter away and the PartitionPruning rule would
    // find no selective predicate to derive the runtime filter from.
    val dimDir = Tables.scratchDir("graft_j13_dim", d)
    Seq(("click", 1), ("purchase", 1), ("view", 2),
      ("login", 3), ("logout", 3)).toDF("event_type", "tier")
      .write.mode("overwrite").parquet(dimDir)
    // attr = literal: the shape PartitionPruning's isLikelySelective
    // recognizes (a bare boolean attribute is not "selective" to it)
    val dim = s.read.parquet(dimDir).filter(col("tier") === 1)
    fact.join(broadcast(dim), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type")
  }

  /** src22 — Z-ORDER (Morton) CLUSTERING + min/max manifest file
    * skipping: the multi-dimensional data-skipping layout Delta's
    * `OPTIMIZE ZORDER BY` and Iceberg's sort-order rewrite provide.
    * Hive-style partitioning (src2) prunes ONE dimension; a 2-D
    * dashboard box query (user band × day band) over a layout linear in
    * either dimension still scans every file for the other. Interleaving
    * the bits of both keys (Morton code — codegen'd shiftleft/AND/OR
    * magic-mask spreading, no UDF) makes each range-partitioned file
    * cover a small RECTANGLE of (user, day) space, so per-file min/max
    * stats prune on BOTH dimensions at once: measured here, the box
    * query reads 8/16 files at sf0.001, 3/16 at sf0.01, 1/16 at sf0.1 —
    * the skip rate IMPROVES with scale (files cover ever-smaller
    * rectangles), which is exactly the 100 TB argument; an unclustered
    * layout reads 16/16 at every SF (spec-pinned).
    *
    * The skipping machinery is the engine's own, not the format's: one
    * post-write scan groups by `input_file_name()` into a per-file
    * (min,max)×(user,day) MANIFEST (src15's trick, file-count-sized),
    * and the reader plans the scan by intersecting the manifest with the
    * box — file-level pruning parquet row-group stats alone can't give
    * a multi-file directory listing. The declared box rollup reads ONLY
    * the surviving files and is fully oracled against the raw table, so
    * a wrong skip (a pruned file that held a matching row) breaks the
    * hash.
    */
  private[graft] def mortonSpread(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // spread 16 bits to even positions: classic magic-mask doubling
    val m = Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
    m.foldLeft(c.cast("long").bitwiseAND(lit(0xFFFFL))) { case (x, (sh, mask)) =>
      (x.bitwiseOR(shiftleft(x, sh))).bitwiseAND(lit(mask))
    }
  }

  private[graft] def zorderStoreDir(s: SparkSession, d: String,
      clustered: Boolean): String = {
    // staged once like the bucketed/IVF stores (r11 verdict item 7: the
    // committed line rewrote the whole z-ordered store on every call) —
    // a rerun pays only the box query
    Staged.dir(s, "zorder_store", d, clustered) {
      val dir = Tables.scratchDir(if (clustered) "graft_src22_z" else "graft_src22_lin", d)
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), col("value"), to_date(col("ts")).as("day"))
        .withColumn("day_idx", datediff(col("day"), lit("2024-01-01")))
      val keyed = if (clustered)
        ev.withColumn("zkey",
          mortonSpread(col("user_id")).bitwiseOR(shiftleft(mortonSpread(col("day_idx")), 1)))
      else ev.withColumn("zkey", xxhash64(col("event_id"))) // no locality at all
      keyed.repartitionByRange(16, col("zkey")).sortWithinPartitions("zkey")
        .drop("zkey", "day_idx")
        .write.mode("overwrite").parquet(dir)
      dir
    }
  }

  /** One scan builds the per-file min/max manifest; returns it collected
    * (file-count-sized — 16 rows here, O(files) at any scale, the same
    * cardinality every manifest-backed table format's planner holds).
    */
  private[graft] def zorderManifest(s: SparkSession, dir: String):
      Array[(String, Long, Long, java.sql.Date, java.sql.Date)] = {
    import s.implicits._
    s.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min("user_id").as("umin"), max("user_id").as("umax"),
        min("day").as("dmin"), max("day").as("dmax"))
      .as[(String, Long, Long, java.sql.Date, java.sql.Date)]
      .collect()
  }

  private[graft] val zBox = (3L, 9L, "2024-01-10", "2024-01-19")

  /** Files whose (user, day) rectangle intersects the box. */
  private[graft] def zorderSurvivors(s: SparkSession, dir: String,
      box: (Long, Long, String, String) = zBox): Seq[String] = {
    val (ulo, uhi, dlo, dhi) = box
    val (lo, hi) = (java.sql.Date.valueOf(dlo), java.sql.Date.valueOf(dhi))
    zorderManifest(s, dir).collect {
      case (f, umin, umax, dmin, dmax)
        if umax >= ulo && umin <= uhi && !dmax.before(lo) && !dmin.after(hi) => f
    }.toSeq
  }

  def zorderBoxQuery(s: SparkSession, d: String): DataFrame = {
    val dir = zorderStoreDir(s, d, clustered = true)
    val survivors = zorderSurvivors(s, dir)
    val (ulo, uhi, dlo, dhi) = zBox
    // the scan plans over ONLY the surviving files; the exact predicate
    // still applies (min/max intersection is a superset of the matches)
    s.read.parquet(survivors: _*)
      .filter(col("user_id").between(ulo, uhi) &&
        col("day").between(lit(dlo).cast("date"), lit(dhi).cast("date")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type")
  }

  private[graft] val zBox2 = (2L, 11L, "2024-01-05", "2024-01-14")

  /** The z-ordered store read through the engine's `ManifestFileIndex`:
    * per-file (min,max)×(user,day) stats ride INSIDE the plan, so file
    * pruning happens at `listFiles` time from the pushed data filters —
    * src23's whole point vs src22's operator-side pre-listing (see
    * ManifestFileIndex's scaladoc).
    */
  private[graft] def manifestIndexedStore(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val dir = zorderStoreDir(s, d, clustered = true)
    val stats = zorderManifest(s, dir).map { case (f, umin, umax, dmin, dmax) =>
      new org.apache.hadoop.fs.Path(f).toUri.getPath -> Map(
        "user_id" -> ManifestFileIndex.ColRange(umin, umax),
        "day" -> ManifestFileIndex.ColRange(
          dmin.toLocalDate.toEpochDay, dmax.toLocalDate.toEpochDay))
    }.toMap
    val idx = new ManifestFileIndex(s, new org.apache.hadoop.fs.Path(dir), stats)
    val rel = HadoopFsRelation(idx,
      partitionSchema = new org.apache.spark.sql.types.StructType(),
      dataSchema = s.read.parquet(dir).schema, bucketSpec = None,
      fileFormat = new ParquetFileFormat, options = Map.empty[String, String])(s)
    s.baseRelationToDataFrame(rel)
  }

  /** src23 — the box rollup as a PLAIN filtered query over the indexed
    * store: no survivor pre-listing anywhere in the operator; the plan's
    * own scan prunes to the manifest's surviving files (numFiles metric
    * spec-pinned), and the result is fully oracled against raw events.
    */
  def fileIndexBoxQuery(s: SparkSession, d: String): DataFrame = {
    val (ulo, uhi, dlo, dhi) = zBox2
    manifestIndexedStore(s, d)
      .filter(col("user_id").between(ulo, uhi) &&
        col("day").between(lit(dlo).cast("date"), lit(dhi).cast("date")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type")
  }

  /** src27 — STRING min/max manifest skipping (round-12 verdict item
    * 6): the src23 `ManifestFileIndex` tightened only on integral
    * literals, so a filter on a string column (`event_type`, the
    * second key of src26's evolved partition spec) got zero file
    * skipping — real table-format manifests track string min/max too
    * (Delta's stats schema, Iceberg's lower_bounds/upper_bounds).
    * This store is range-clustered by (event_type, user_id), so each
    * file covers one event type (or a boundary pair) and a narrow user
    * band; the manifest carries a `StrRange` for event_type beside the
    * numeric user range, and an `event_type = 'purchase' AND user_id ≤
    * u` dashboard query prunes on BOTH columns inside the plan —
    * string bounds compare in UTF8String order on both sides, the same
    * collation Spark's min/max computed them in. Fully oracled against
    * raw events (a wrong string skip breaks the hash); the spec pins
    * the executed scan's numFiles to the manifest's survivor count.
    */
  private[graft] def typeClusteredStoreDir(s: SparkSession, d: String): String =
    Staged.dir(s, "typed_store", d) {
      val dir = Tables.scratchDir("graft_src27_typed", d)
      events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), col("value"), to_date(col("ts")).as("day"))
        .repartitionByRange(10, col("event_type"), col("user_id"))
        .sortWithinPartitions("event_type", "user_id")
        .write.mode("overwrite").parquet(dir)
      dir
    }

  /** The (event_type, user_id) manifest over the type-clustered store:
    * string AND numeric per-file ranges (file-count-sized collect).
    */
  private[graft] def typedManifest(s: SparkSession, dir: String):
      Array[(String, String, String, Long, Long)] = {
    import s.implicits._
    // nullable decode: a file whose tracked column is all-NULL has null
    // min/max — such entries are DROPPED from the manifest so the file
    // falls under the index's unknown-file rule (conservatively kept)
    // instead of crashing the encoder / UTF8String.fromString(null).
    s.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min("event_type").as("tmin"), max("event_type").as("tmax"),
        min("user_id").as("umin"), max("user_id").as("umax"))
      .as[(String, Option[String], Option[String], Option[Long], Option[Long])]
      .collect()
      .collect { case (f, Some(tmin), Some(tmax), Some(umin), Some(umax)) =>
        (f, tmin, tmax, umin, umax)
      }
  }

  private[graft] def stringIndexedStore(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val dir = typeClusteredStoreDir(s, d)
    val stats = typedManifest(s, dir).map { case (f, tmin, tmax, umin, umax) =>
      new org.apache.hadoop.fs.Path(f).toUri.getPath ->
        Map[String, ManifestFileIndex.ColStat](
          "event_type" -> ManifestFileIndex.StrRange(tmin, tmax),
          "user_id" -> ManifestFileIndex.ColRange(umin, umax))
    }.toMap
    val idx = new ManifestFileIndex(s, new org.apache.hadoop.fs.Path(dir), stats)
    val rel = HadoopFsRelation(idx,
      partitionSchema = new org.apache.spark.sql.types.StructType(),
      dataSchema = s.read.parquet(dir).schema, bucketSpec = None,
      fileFormat = new ParquetFileFormat, options = Map.empty[String, String])(s)
    s.baseRelationToDataFrame(rel)
  }

  private[graft] val typedProbe: (String, Long) = ("purchase", 60L)

  def stringSkippingQuery(s: SparkSession, d: String): DataFrame = {
    val (et, uhi) = typedProbe
    stringIndexedStore(s, d)
      .filter(col("event_type") === et && col("user_id") <= uhi)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("day")
  }

  /** src24 — parquet AGGREGATE PUSHDOWN (DSv2): an unfiltered
    * count/min/max is answered from parquet FOOTER statistics — zero
    * row groups decompressed, zero rows materialized. At 100 TB the
    * "how many rows / what's the date range" admin query costs a
    * metadata pass over file footers instead of a full scan. The
    * pushdown is a v2-reader feature, so the query runs on its own
    * session with the v1 fallback list cleared and
    * `parquet.aggregatePushDown` on; SourcesSpec pins
    * `PushedAggregation` in the scan and zero output rows from the
    * row-group side. Fully oracled — DuckDB recomputes the same three
    * aggregates from the data, so a wrong footer shortcut breaks the
    * hash.
    */
  def aggregatePushdown(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    s.conf.set("spark.sql.sources.useV1SourceList", "")
    // min/max on an INT64 key: timestamp columns are excluded from
    // footer-stats pushdown (pushdown is all-or-nothing per aggregate
    // list, so one ineligible column would silently disable all three)
    s.read.parquet(s"$d/lineitem.parquet")
      .agg(count(lit(1)).as("n"),
        min("l_orderkey").as("first_key"), max("l_orderkey").as("last_key"))
  }

  /** src25 — EXCHANGE-FREE bucketed aggregation: the rollup keyed on the
    * bucket key over src3's bucketed store runs partial→final with ZERO
    * Exchange — the scan's outputPartitioning (murmur3 hash on
    * l_orderkey, 8 buckets) already satisfies the aggregate's required
    * distribution, so EnsureRequirements inserts nothing. At 100 TB the
    * daily rollup over a bucketed fact is the most common shuffle the
    * layout can delete: pay the clustering once at write time, aggregate
    * forever shuffle-free (the aggregation sibling of j14's zero-exchange
    * as-of join). SourcesSpec pins no Exchange below the aggregate.
    */
  def bucketedRollup(s: SparkSession, d: String): DataFrame = {
    val base = Tables.scratchDir("graft_bucket", d)
    val (liTbl, oTbl) = bucketTableNames(d)
    writeBucketed(s, lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount"),
      "l_orderkey", s"$base/li", liTbl)
    writeBucketed(s, orders(s, d).select("o_orderkey", "o_orderpriority"),
      "o_orderkey", s"$base/o", oTbl)
    bucketedRollupPlan(s, liTbl).orderBy("l_orderkey")
  }

  /** The bare bucket-key aggregate — the plan SourcesSpec asserts is
    * Exchange-free (the declared query's orderBy adds its own range
    * exchange for deterministic output; the aggregation itself must not).
    */
  private[graft] def bucketedRollupPlan(s: SparkSession, liTbl: String): DataFrame =
    s.table(liTbl)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"),
        // exact-cents discipline: a rounded double SUM differs in the
        // last ulp across engines at .005 boundaries (caught by the
        // oracle on this very query); integer cents sum identically
        sum(expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
          .as("revenue_cents"))

  // ---- src26: partition-spec EVOLUTION ----

  /** src26 — PARTITION EVOLUTION (Iceberg's spec evolution): the table
    * started day-partitioned; operations later ADDED event_type to the
    * partition spec — and the history was NOT rewritten. Files written
    * under the old spec stay exactly where they are (at 100 TB a
    * re-partition of history is a full-table rewrite; the whole point
    * of spec evolution is never paying it); each generation keeps its
    * own layout, and a query plans against BOTH: the day filter prunes
    * both generations' day directories, the event_type filter prunes
    * gen1's subdirectories physically and falls back to a data filter
    * over gen0 — every file contributes exactly its matching rows, so
    * the union is the raw answer. The oracle recomputes from raw
    * events; per-generation file pruning is spec-pinned from executed
    * scan metrics.
    */
  private[graft] def evolvedStoreDir(s: SparkSession, d: String): String =
    Staged.dir(s, "evolved_store", d) {
      val dir = Tables.scratchDir("graft_evo_store", d)
      val ev = Tables.events(s, d).select(col("event_id"), col("ts"),
        col("user_id"), col("value"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      val cut = Tables.events(s, d).agg(date_format(
        date_add(min(to_date(col("ts"))), 14), "yyyy-MM-dd")).head.getString(0)
      ev.filter(col("day") < cut).repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$dir/gen0")
      ev.filter(col("day") >= cut).repartition(col("day"), col("event_type"))
        .write.mode("overwrite").partitionBy("day", "event_type")
        .parquet(s"$dir/gen1")
      dir
    }

  private[graft] def evoGenRead(s: SparkSession, path: String): DataFrame =
    withConf(s)(noPartitionInference)(s.read.parquet(path))

  /** The declared cross-generation query: a day range straddling the
    * cutover, filtered to one event_type — partition-pruned under each
    * generation's OWN spec.
    */
  def partitionEvolutionQuery(s: SparkSession, d: String): DataFrame = {
    val dir = evolvedStoreDir(s, d)
    val Array(lo, hi) = Tables.events(s, d).agg(
      date_format(date_add(min(to_date(col("ts"))), 10), "yyyy-MM-dd"),
      date_format(date_add(min(to_date(col("ts"))), 20), "yyyy-MM-dd"))
      .head.toSeq.map(_.toString).toArray
    def shape(df: DataFrame): DataFrame =
      df.filter(col("day").between(lo, hi) && col("event_type") === "click")
        .select(col("day"), col("value"))
    shape(evoGenRead(s, s"$dir/gen0"))
      .unionByName(shape(evoGenRead(s, s"$dir/gen1")))
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .orderBy("day")
  }

  /** src28 — SQL TIME TRAVEL through the tt catalog: the same four
    * snapshots up13's DataFrame verb answers, reached by
    * `spark.sql("... FROM tt.<table> VERSION AS OF v")` — the catalog's
    * `loadTable(ident, version)` is Spark's contract for that syntax,
    * and the oracle is up13's VERBATIM (the SQL front door must be
    * indistinguishable from the library call; a row-equality spec pins
    * the two forms against each other too).
    */
  def sqlTimeTravel(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttBaseScenario(s, d) // read-only, staged
    TtCatalog.install(s)
    TtCatalog.register("up13_store", dir)
    (0 to 3).map { v =>
      s.sql(s"""SELECT CAST($v AS BIGINT) AS version, event_type,
        count(*) AS n, sum(cents) AS sum_cents
        FROM tt.up13_store VERSION AS OF $v GROUP BY event_type""")
    }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  /** src29 — SQL MERGE INTO through the tt catalog: up18's changeset
    * (the SAME source builder) applied by the SQL verb — parsed by
    * Spark, routed to the engine's transactional commit by the injected
    * resolution rule ([[graft.plans.TtSqlMergeRule]]) — then the head
    * read back through the catalog. Oracle: up18's VERBATIM.
    */
  def sqlMergeInto(s: SparkSession, d: String): DataFrame = {
    // memoized base store (staged); the MERGE verb itself runs (timed)
    // every call — a re-merge of the same absolute-valued source is
    // idempotent in effect (matched keys take identical rows, prior
    // inserts re-match), so the head read is run-invariant
    val dir = graft.ops.Mutations.ttDerivedScenario(s, d, "graft_src29_store",
      () => graft.ops.Mutations.ttBaseScenario(s, d))(_ => ())
    TtCatalog.install(s)
    TtCatalog.register("up18_sql_store", dir)
    graft.ops.Mutations.ttMergeSource(s, d)
      .createOrReplaceTempView("graft_tt_merge_src")
    s.sql("""MERGE INTO tt.up18_sql_store t
      USING graft_tt_merge_src s
      ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    s.sql("""SELECT event_type, count(*) AS n, sum(cents) AS sum_cents
      FROM tt.up18_sql_store GROUP BY event_type ORDER BY event_type""")
  }

  /** src30 — SQL DELETE FROM through the tt catalog: up20's
    * merge-on-read delete driven by the SQL verb (the injected rule
    * routes it to a deletion-vector commit — NO data file rewritten,
    * spec-pinned) and the post-delete head read back through the
    * catalog, which applies the vectors. Arbitrary predicates ride the
    * same path; the fixture reuses up20's `% 23` rule so the oracle is
    * its v4 state.
    */
  def sqlDeleteFrom(s: SparkSession, d: String): DataFrame = {
    // memoized base store (staged); the DELETE verb runs (timed) every
    // call — a re-delete matches nothing (the doomed set is computed
    // from the DV-applied head), so the head read is run-invariant
    val dir = graft.ops.Mutations.ttDerivedScenario(s, d, "graft_src30_store",
      () => graft.ops.Mutations.ttBaseScenario(s, d))(_ => ())
    TtCatalog.install(s)
    TtCatalog.register("up20_sql_store", dir)
    s.sql("DELETE FROM tt.up20_sql_store WHERE event_id % 23 = 0")
    s.sql("""SELECT event_type, count(*) AS n, sum(cents) AS sum_cents
      FROM tt.up20_sql_store GROUP BY event_type ORDER BY event_type""")
  }

  /** src31 — SQL UPDATE through the tt catalog: up21's merge-on-read
    * update driven by the SQL verb (one commit: DV over old images + a
    * batch of updated images — no data file rewritten, spec-pinned),
    * then the head read back through the catalog.
    */
  def sqlUpdate(s: SparkSession, d: String): DataFrame = {
    // memoized base store (staged); the UPDATE verb commits (timed) a
    // new head every call, and the declared read is PINNED at v4 (the
    // first run's post-update snapshot) — later runs' extra +77
    // commits never surface
    val dir = graft.ops.Mutations.ttDerivedScenario(s, d, "graft_src31_store",
      () => graft.ops.Mutations.ttBaseScenario(s, d))(_ => ())
    TtCatalog.install(s)
    TtCatalog.register("up21_sql_store", dir)
    s.sql("""UPDATE tt.up21_sql_store SET cents = cents + 77
      WHERE event_type = 'purchase'""")
    s.sql("""SELECT event_type, count(*) AS n, sum(cents) AS sum_cents
      FROM tt.up21_sql_store VERSION AS OF 4
      GROUP BY event_type ORDER BY event_type""")
  }

  /** src33 — SQL DELETE then SQL MERGE on ONE registered store: the verb
    * sequence the tt front door naturally exposes (r14's confirmed
    * crash — MERGE's probe used to read DV sidecars as data and die
    * with CONFLICTING_DIRECTORY_STRUCTURES). The DELETE lands a
    * deletion-vector commit (v4); the MERGE (v5) must treat DV-deleted
    * rows as logically absent — a source key whose only row was
    * deleted takes the INSERT arm, and the COW rewrite applies live
    * DVs so deleted rows are never resurrected into the new batch. The
    * oracle applies MERGE's semantics to the post-delete state, so a
    * resurrection (or a deleted row wrongly "matched") breaks the hash.
    */
  def sqlDeleteThenMerge(s: SparkSession, d: String): DataFrame = {
    // memoized base store (staged); the DELETE+MERGE PAIR is idempotent
    // in effect (the merge re-inserts every source row the re-delete
    // removes), so the head read is run-invariant
    val dir = graft.ops.Mutations.ttDerivedScenario(s, d, "graft_src33_store",
      () => graft.ops.Mutations.ttBaseScenario(s, d))(_ => ())
    TtCatalog.install(s)
    TtCatalog.register("src33_store", dir)
    s.sql("DELETE FROM tt.src33_store WHERE event_id % 23 = 0")
    graft.ops.Mutations.ttMergeSource(s, d)
      .createOrReplaceTempView("graft_tt_merge_src33")
    s.sql("""MERGE INTO tt.src33_store t
      USING graft_tt_merge_src33 s
      ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    s.sql("""SELECT event_type, count(*) AS n, sum(cents) AS sum_cents
      FROM tt.src33_store GROUP BY event_type ORDER BY event_type""")
  }

  /** src34 — SQL TIMESTAMP AS OF through the tt catalog: commit
    * timestamps (`# ts=` meta, the deterministic injectable clock)
    * resolve a wall-clock instant to the newest version at-or-before
    * it via `loadTable(ident, timestamp)` — Spark's contract for the
    * syntax and Delta/Iceberg's floor-over-commit-times rule. 01:30
    * falls BETWEEN v1 (01:00) and v2 (02:00) and must floor to v1;
    * 03:00 hits v3's commit exactly. The oracle recomputes the v1/v3
    * states; a spec pins each TIMESTAMP AS OF read row-equal to its
    * VERSION AS OF twin.
    */
  def sqlTimestampAsOf(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttBaseScenario(s, d) // read-only, staged
    TtCatalog.install(s)
    TtCatalog.register("src34_store", dir)
    Seq((1, "2024-06-01 01:30:00"), (3, "2024-06-01 03:00:00"))
      .map { case (v, ts) =>
        s.sql(s"""SELECT CAST($v AS BIGINT) AS version, event_type,
          count(*) AS n, sum(cents) AS sum_cents
          FROM tt.src34_store TIMESTAMP AS OF '$ts' GROUP BY event_type""")
      }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  /** src35 — SQL INSERT INTO through the tt catalog: the most common
    * lakehouse write gets its SQL spelling — the analyzer aligns the
    * SELECT to the table schema, plans AppendData, and the table's V1
    * write bridge lands ONE append commit (`op=insert`, OCC-retried).
    * The declared read is PINNED at v4 (the first run's post-insert
    * head) so the query is run-invariant over the memoized store; a
    * spec pins the SQL insert row-equal to the DataFrame append twin
    * and the OVERWRITE refusal.
    */
  def sqlInsertInto(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttDerivedScenario(s, d, "graft_src35_store",
      () => graft.ops.Mutations.ttBaseScenario(s, d))(_ => ())
    TtCatalog.install(s)
    TtCatalog.register("src35_store", dir)
    graft.Tables.events(s, d).createOrReplaceTempView("graft_src35_events")
    s.sql("""INSERT INTO tt.src35_store
      SELECT event_id + 7000000000 AS event_id, event_type,
        cast(round(value * 100) as bigint) + 250 AS cents,
        date_format(ts, 'yyyy-MM-dd') AS day
      FROM graft_src35_events WHERE event_id % 19 = 0""")
    s.sql("""SELECT event_type, count(*) AS n, sum(cents) AS sum_cents
      FROM tt.src35_store VERSION AS OF 4
      GROUP BY event_type ORDER BY event_type""")
  }

  /** src36 — SQL ALTER TABLE RENAME/DROP COLUMN through the tt catalog
    * (up26's column mapping given its SQL spelling): the rename and
    * drop land as metadata commits via `alterTable`, a post-rename SQL
    * INSERT aligns to the LOGICAL schema and is inverse-mapped to
    * physical names by the write bridge, and the head reads under the
    * new name while `VERSION AS OF` pre-rename snapshots keep the old
    * one (spec-pinned). All verbs run in the staged scenario builder
    * (they are one-time schema history, not per-query cost); the timed
    * query is the head rollup under the mapped name.
    */
  def sqlAlterColumn(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttDerivedScenario(s, d, "graft_src36_store",
      () => graft.ops.Mutations.ttBaseScenario(s, d)) { dd =>
      graft.ops.Mutations.ttBuildEvolvedSuffix(s, d, dd)
      TtCatalog.install(s)
      TtCatalog.register("src36_store", dd)
      s.sql("ALTER TABLE tt.src36_store RENAME COLUMN cents TO amount")
      graft.Tables.events(s, d).createOrReplaceTempView("graft_src36_events")
      // build the INSERT in the table's own (logical) column order so
      // the scenario is robust to mergeSchema field ordering
      val exprs = s.table("tt.src36_store").columns.map {
        case "event_id"   => "event_id + 9000000000 AS event_id"
        case "event_type" => "event_type"
        case "amount"     => "cast(round(value * 100) as bigint) + 410 AS amount"
        case "day"        => "date_format(ts, 'yyyy-MM-dd') AS day"
        case "ingest_gen" => "CAST(NULL AS BIGINT) AS ingest_gen"
        case other => sys.error(s"unexpected column $other")
      }
      s.sql(s"""INSERT INTO tt.src36_store
        SELECT ${exprs.mkString(", ")} FROM graft_src36_events
        WHERE event_id % 27 = 0""")
      s.sql("ALTER TABLE tt.src36_store DROP COLUMN ingest_gen")
    }
    TtCatalog.install(s)
    TtCatalog.register("src36_store", dir)
    s.sql("""SELECT event_type, count(*) AS n, sum(amount) AS sum_amount
      FROM tt.src36_store GROUP BY event_type ORDER BY event_type""")
  }

  /** src37 — SQL RESTORE through the injected parser extension
    * ([[graft.plans.TtSqlParser]], Delta's `RESTORE TABLE ... TO
    * VERSION AS OF` spelling): the rollback verb a SQL user needs when
    * a SQL-made commit (a regretted DROP COLUMN, a mis-keyed MERGE)
    * must be undone from the same front door. One OCC-retried metadata
    * commit (up22's ttRestore); the restore runs in the staged builder
    * (one-time history), the timed query answers BOTH the pre-restore
    * head (v3 — history preserved) and the restored head (v4 ≡ v1's
    * state) from pinned versions, so the read is run-invariant.
    */
  def sqlRestore(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttDerivedScenario(s, d, "graft_src37_store",
      () => graft.ops.Mutations.ttBaseScenario(s, d)) { dd =>
      TtCatalog.install(s)
      TtCatalog.register("src37_store", dd)
      val out = s.sql("RESTORE TABLE tt.src37_store TO VERSION AS OF 1")
        .collect()
      require(out.length == 1 && out(0).getLong(2) == 4L,
        s"SQL RESTORE landed at the wrong version: ${out.mkString}")
    }
    TtCatalog.install(s)
    TtCatalog.register("src37_store", dir)
    Seq(3, 4).map { v =>
      s.sql(s"""SELECT CAST($v AS BIGINT) AS version, event_type,
        count(*) AS n, sum(cents) AS sum_cents
        FROM tt.src37_store VERSION AS OF $v GROUP BY event_type""")
    }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  /** src38 — SQL CREATE TABLE AS SELECT through the tt catalog: the
    * planner routes CTAS to `createTable` (one `op=create` v0 commit
    * carrying the declared schema — Delta: table creation is a
    * metadata-only protocol action) plus the append write bridge (v1,
    * `op=insert`), so a table born from SQL is a full citizen of every
    * later verb — INSERT/MERGE/OPTIMIZE/RESTORE/VERSION AS OF all work
    * on it unchanged. The timed query is the head rollup, pinned at v1
    * (creation history is one-time, staged); DROP TABLE and the
    * empty-table read between CREATE and first INSERT are spec-pinned.
    */
  def sqlCreateTableAsSelect(s: SparkSession, d: String): DataFrame = {
    TtCatalog.install(s)
    val dir = graft.ops.Mutations.ttScenario(s, d, "graft_src38_store") { dd =>
      // a fresh build targets a wiped dir; forget any stale registration
      // so CREATE never trips over the previous JVM's name
      TtCatalog.tables.remove("src38_store")
      graft.Tables.events(s, d).createOrReplaceTempView("graft_src38_events")
      s.sql(s"""CREATE TABLE tt.src38_store USING parquet LOCATION '$dd'
        AS SELECT event_id, event_type,
          cast(round(value * 100) as bigint) AS cents,
          date_format(ts, 'yyyy-MM-dd') AS day
        FROM graft_src38_events""")
      dd
    }
    TtCatalog.register("src38_store", dir)
    s.sql("""SELECT event_type, count(*) AS n, sum(cents) AS sum_cents
      FROM tt.src38_store VERSION AS OF 1
      GROUP BY event_type ORDER BY event_type""")
  }

  /** src39 — `OPTIMIZE tt.x ZORDER BY (event_id)` through the parser
    * extension: the clustered compaction statement (up28's verb, SQL
    * spelling). Runs in the staged builder (one-time layout history);
    * the timed query answers the pre/post rollup at pinned versions —
    * the hash proves the SQL-spelled rewrite is a logical no-op.
    */
  def sqlOptimize(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttDerivedScenario(s, d, "graft_src39_store",
      () => graft.ops.Mutations.ttBaseScenario(s, d)) { dd =>
      TtCatalog.install(s)
      TtCatalog.register("src39_store", dd)
      val out = s.sql("OPTIMIZE tt.src39_store ZORDER BY (event_id)")
        .collect()
      require(out.length == 1 && out(0).getLong(2) == 4L,
        s"SQL OPTIMIZE landed wrong: ${out.mkString}")
    }
    TtCatalog.install(s)
    TtCatalog.register("src39_store", dir)
    Seq(3, 4).map { v =>
      s.sql(s"""SELECT CAST($v AS BIGINT) AS version, event_type,
        count(*) AS n, sum(cents) AS sum_cents
        FROM tt.src39_store VERSION AS OF $v GROUP BY event_type""")
    }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  /** src40 — `VACUUM tt.x RETAIN 1 HOURS` through the parser extension
    * (up29's verb, SQL spelling; horizon anchored at the head commit's
    * timestamp — deterministic). The vacuum runs in the staged builder;
    * the timed query answers both retained snapshots — the hash proves
    * the SQL-spelled retention deleted nothing a retained version needs.
    */
  def sqlVacuum(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttDerivedScenario(s, d, "graft_src40_store",
      () => graft.ops.Mutations.ttBaseScenario(s, d)) { dd =>
      TtCatalog.install(s)
      TtCatalog.register("src40_store", dd)
      val out = s.sql("VACUUM tt.src40_store RETAIN 1 HOURS").collect()
      require(out.length == 1 && out(0).getLong(3) > 0,
        s"SQL VACUUM reaped nothing: ${out.mkString}")
    }
    TtCatalog.install(s)
    TtCatalog.register("src40_store", dir)
    Seq(2, 3).map { v =>
      s.sql(s"""SELECT CAST($v AS BIGINT) AS version, event_type,
        count(*) AS n, sum(cents) AS sum_cents
        FROM tt.src40_store VERSION AS OF $v GROUP BY event_type""")
    }.reduce(_.unionByName(_)).orderBy("version", "event_type")
  }

  /** src41 — `DESCRIBE HISTORY tt.x` through the parser extension:
    * up24's audit surface as the Delta statement — version, op, commit
    * timestamp (the injectable clock, oracle-recomputable) and the
    * stats-served row count, over the read-only base store.
    */
  def sqlDescribeHistory(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttBaseScenario(s, d)
    TtCatalog.install(s)
    TtCatalog.register("src41_store", dir)
    s.sql("DESCRIBE HISTORY tt.src41_store").orderBy("version")
  }

  /** src42 — CHECK CONSTRAINTS through SQL (Delta's `ALTER TABLE ...
    * ADD CONSTRAINT ... CHECK`): the constraint lands as one metadata
    * commit (refused if existing data violates it), and every later SQL
    * INSERT is validated against the active set BEFORE staging — a
    * violating batch is refused loudly with nothing committed
    * (spec-pinned). The declared scenario adds `nonneg_cents`, inserts
    * a conforming slice through the constrained path, and answers the
    * pinned head rollup — the oracle proves the constrained insert
    * landed exactly once.
    */
  def sqlCheckConstraint(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttDerivedScenario(s, d, "graft_src42_store",
      () => graft.ops.Mutations.ttBaseScenario(s, d)) { dd =>
      TtCatalog.install(s)
      TtCatalog.register("src42_store", dd)
      val out = s.sql("""ALTER TABLE tt.src42_store
        ADD CONSTRAINT nonneg_cents CHECK (cents >= 0)""").collect()
      require(out.length == 1 && out(0).getLong(2) == 4L,
        s"ADD CONSTRAINT landed wrong: ${out.mkString}")
      graft.Tables.events(s, d).createOrReplaceTempView("graft_src42_events")
      s.sql("""INSERT INTO tt.src42_store
        SELECT event_id + 8500000000 AS event_id, event_type,
          cast(round(value * 100) as bigint) + 100 AS cents,
          date_format(ts, 'yyyy-MM-dd') AS day
        FROM graft_src42_events WHERE event_id % 23 = 0""")
    }
    TtCatalog.install(s)
    TtCatalog.register("src42_store", dir)
    s.sql("""SELECT event_type, count(*) AS n, sum(cents) AS sum_cents
      FROM tt.src42_store VERSION AS OF 5
      GROUP BY event_type ORDER BY event_type""")
  }

  /** src43 — SQL `table_changes('name', from, to)` through the injected
    * TABLE-VALUED FUNCTION ([[graft.plans.TtTableChanges]], Delta's
    * spelling): the change feed finally has its SQL front door — every
    * other lake verb got one in src35–src42, and the CDF was the last
    * library-only surface. The TVF resolves at analysis to up15's
    * `ttChanges` plan (net file diff + bag difference, cost ∝ churn),
    * so WHERE/GROUP BY compose over it like any table. The declared
    * query is up15's per-adjacent-pair rollup driven ENTIRELY from SQL;
    * oracle = up15's EXCEPT ALL replay verbatim. A spec pins the TVF
    * row-equal to the library verb plus the literal/arity refusals.
    */
  def sqlTableChanges(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttBaseScenario(s, d) // read-only, staged
    TtCatalog.install(s)
    TtCatalog.register("src43_store", dir)
    (1 to 3).map { v =>
      s.sql(s"""SELECT CAST($v AS BIGINT) AS version,
        _change_type AS change, event_type,
        count(*) AS n, sum(cents) AS sum_cents
        FROM table_changes('src43_store', ${v - 1}, $v)
        GROUP BY _change_type, event_type""")
    }.reduce(_.unionByName(_)).orderBy("version", "change", "event_type")
  }

  /** src44 — SQL `ALTER TABLE tt.x ADD COLUMN c TYPE` (Delta's metadata
    * column add): one commit, no file touched — pre-add rows read the
    * column as NULL, pre-add SNAPSHOTS never surface it, and the next
    * INSERT lands it physically. The declared scenario adds `bonus`
    * (v4), inserts a slice carrying it (v5), and answers the head
    * rollup counting evolved rows — fully oracled from raw events; the
    * DROP/ADD round-trip, collision refusals and pre-add snapshot
    * invisibility are spec-pinned.
    */
  def sqlAddColumn(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttDerivedScenario(s, d, "graft_src44_store",
      () => graft.ops.Mutations.ttBaseScenario(s, d)) { dd =>
      TtCatalog.install(s)
      TtCatalog.register("src44_store", dd)
      s.sql("ALTER TABLE tt.src44_store ADD COLUMN bonus BIGINT") // v4
      graft.Tables.events(s, d).createOrReplaceTempView("graft_src44_events")
      s.sql("""INSERT INTO tt.src44_store
        SELECT event_id + 9500000000 AS event_id, event_type,
          cast(round(value * 100) as bigint) AS cents,
          date_format(ts, 'yyyy-MM-dd') AS day,
          cast(round(value * 100) as bigint) % 97 AS bonus
        FROM graft_src44_events WHERE event_id % 29 = 0""") // v5
    }
    TtCatalog.install(s)
    TtCatalog.register("src44_store", dir)
    s.sql("""SELECT event_type, count(*) AS n, sum(cents) AS sum_cents,
      count(bonus) AS n_bonus, sum(bonus) AS sum_bonus
      FROM tt.src44_store VERSION AS OF 5
      GROUP BY event_type ORDER BY event_type""")
  }

  /** src45 — SQL SHALLOW CLONE (`CREATE TABLE tt.y SHALLOW CLONE tt.x
    * VERSION AS OF v LOCATION '...'`, Delta's zero-copy fork): the
    * dev/test-against-production pattern from the SQL front door — fork
    * a snapshot for free, mutate the fork, the source never notices.
    * The scenario clones the 4-version store at v3, SQL-MERGEs an
    * independent +5-on-views mutation into the CLONE, and answers both
    * heads; oracle = up23's verbatim (clone = v3 with view+5, source =
    * v3 untouched — independence in one hash). Refusals (taken name,
    * non-empty location, DV-bearing source) spec-pinned.
    */
  def sqlShallowClone(s: SparkSession, d: String): DataFrame = {
    // the clone's log references its SOURCE's files absolutely, so the
    // scenario owns a private source tree (copied from the memoized
    // base template — up23's discipline; both resolved/built outside
    // any same-map memoized builder)
    val srcDir = graft.Tables.scratchDir("graft_src45_src", d)
    val baseDir = graft.ops.Mutations.ttBaseScenario(s, d)
    val cloneDir = graft.ops.Mutations.ttScenario(s, d, "graft_src45_clone") {
      cd =>
        val fs = new org.apache.hadoop.fs.Path(srcDir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(srcDir), true)
        require(org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(baseDir), fs,
          new org.apache.hadoop.fs.Path(srcDir),
          false, true, s.sparkContext.hadoopConfiguration),
          "src45 source copy failed")
        TtCatalog.install(s)
        TtCatalog.tables.remove("src45_clone")
        TtCatalog.register("src45_src", srcDir)
        val out = s.sql(s"""CREATE TABLE tt.src45_clone
          SHALLOW CLONE tt.src45_src VERSION AS OF 3
          LOCATION '$cd'""").collect()
        require(out.length == 1 && out(0).getLong(2) == 3L,
          s"SQL CLONE landed wrong: ${out.mkString}")
        // independent clone mutation through SQL MERGE (up23's +5 on
        // views, read from the PINNED v0 clone snapshot)
        s.sql("""SELECT event_id, event_type, cents + 5 AS cents, day
          FROM tt.src45_clone VERSION AS OF 0 WHERE event_type = 'view'""")
          .createOrReplaceTempView("graft_src45_mut")
        s.sql("""MERGE INTO tt.src45_clone t USING graft_src45_mut s
          ON t.event_id = s.event_id
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    }
    TtCatalog.install(s)
    TtCatalog.register("src45_src", srcDir)
    TtCatalog.register("src45_clone", cloneDir)
    s.sql("""SELECT 'clone' AS tbl, event_type, count(*) AS n,
        sum(cents) AS sum_cents
      FROM tt.src45_clone VERSION AS OF 1 GROUP BY event_type""")
      .unionByName(s.sql(
        """SELECT 'source' AS tbl, event_type, count(*) AS n,
          sum(cents) AS sum_cents
        FROM tt.src45_src VERSION AS OF 3 GROUP BY event_type"""))
      .orderBy("tbl", "event_type")
  }

  /** src46 — SQL CONVERT (`CONVERT TO TT '<path>' AS tt.<name>`,
    * Delta's `CONVERT TO DELTA` spelling): a plain day-partitioned
    * parquet estate adopts the format from the SQL front door — one v0
    * commit referencing the existing files, zero bytes moved — and the
    * converted table is immediately a full citizen (the scenario
    * SQL-INSERTs up30's late slice as v1). Oracle = up30's verbatim.
    */
  def sqlConvert(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttScenario(s, d, "graft_src46_store") {
      dd =>
        TtCatalog.tables.remove("src46_store")
        val base = graft.Tables.events(s, d)
          .select(col("event_id"), col("event_type"),
            expr("cast(round(value * 100) as bigint)").as("cents"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"))
        base.repartition(col("day")).write.partitionBy("day")
          .mode("overwrite").parquet(dd)
        TtCatalog.install(s)
        val out = s.sql(s"CONVERT TO TT '$dd' AS tt.src46_store").collect()
        require(out.length == 1 && out(0).getLong(2) > 0L,
          s"SQL CONVERT adopted nothing: ${out.mkString}")
        base.createOrReplaceTempView("graft_src46_events")
        s.sql("""INSERT INTO tt.src46_store
          SELECT event_id + 2000000000 AS event_id, event_type,
            cents + 40 AS cents, day
          FROM graft_src46_events WHERE event_id % 17 = 0""")
    }
    TtCatalog.install(s)
    TtCatalog.register("src46_store", dir)
    s.sql("""SELECT event_type, count(*) AS n, sum(cents) AS sum_cents
      FROM tt.src46_store VERSION AS OF 1
      GROUP BY event_type ORDER BY event_type""")
  }

  /** src47 — OPEN-ENDED `table_changes('name', from)` (r17 verdict #6):
    * Delta allows omitting the upper bound; the arity-2 form resolves
    * `to` = the table's head version at analysis time. The declared
    * query is the v2→head slice of the CDF, which on the 4-version base
    * store is exactly the arity-3 (2, 3) feed — the oracle replays that
    * slice, and a spec pins arity-2 ≡ arity-3 row-for-row plus the
    * arity refusals.
    */
  def sqlTableChangesOpen(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttBaseScenario(s, d) // read-only, staged
    TtCatalog.install(s)
    TtCatalog.register("src47_store", dir)
    s.sql("""SELECT _change_type AS change, event_type,
      count(*) AS n, sum(cents) AS sum_cents
      FROM table_changes('src47_store', 2)
      GROUP BY _change_type, event_type
      ORDER BY change, event_type""")
  }

  /** src48 — SQL `APPLY CHANGES INTO tt.silver FROM tt.bronze` (r17
    * verdict #3, Delta Live Tables' CDC-apply spelling): the
    * bronze→silver replication loop — st33's composition of CDF + DV
    * deletes + idempotent txn-tagged commits — from the SQL front door.
    * The scenario replicates the 4-version base store into a FRESH
    * silver (rebuilt per run, so the verb is run-invariant), re-runs
    * the statement to prove idempotent absorption, and answers the
    * silver head rollup; oracle = st33's verbatim (silver head ≡ bronze
    * v3 state recomputed from raw events — a lost, half-applied, or
    * double-applied version breaks the hash). Unregistered-table and
    * version-gap refusals plus SQL ≡ library are spec-pinned.
    */
  def sqlApplyChanges(s: SparkSession, d: String): DataFrame = {
    val bronze = graft.ops.Mutations.ttBaseScenario(s, d)
    TtCatalog.install(s)
    TtCatalog.register("src48_bronze", bronze)
    val silver = graft.Tables.scratchDir("graft_src48_silver", d)
    val root = new org.apache.hadoop.fs.Path(silver)
    root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
    TtCatalog.register("src48_silver", silver)
    val out = s.sql(
      "APPLY CHANGES INTO tt.src48_silver FROM tt.src48_bronze").collect()
    require(out.length == 1 && out(0).getLong(4) == 4L,
      s"APPLY CHANGES applied ${out.mkString} of 4 versions")
    // the whole statement re-run: every version absorbed by its txn
    // probe — 0 applied, silver untouched (exactly-once end to end)
    val rerun = s.sql(
      "APPLY CHANGES INTO tt.src48_silver FROM tt.src48_bronze").collect()
    require(rerun.length == 1 && rerun(0).getLong(4) == 0L,
      s"APPLY CHANGES re-run was not absorbed: ${rerun.mkString}")
    s.sql("""SELECT event_type, count(*) AS n, sum(cents) AS sum_cents
      FROM tt.src48_silver GROUP BY event_type ORDER BY event_type""")
  }

  /** src49 — SQL `DESCRIBE DETAIL tt.x` (r17 verdict #5, Delta's
    * spelling): the table-level metadata summary. The declared query
    * keeps the columns an oracle can recompute from raw fixture facts
    * (head version, stats-served row count, partition columns,
    * constraint set, schema-op count — all protocol- or data-derived);
    * the filesystem-sourced columns (num_files, size_bytes) are
    * spec-pinned against a direct listing instead.
    */
  def sqlDescribeDetail(s: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.Mutations.ttBaseScenario(s, d) // read-only, staged
    TtCatalog.install(s)
    TtCatalog.register("src49_store", dir)
    s.sql("DESCRIBE DETAIL tt.src49_store")
      .select(col("table"), col("head_version"), col("num_rows"),
        col("partition_columns"), col("constraints"), col("num_schema_ops"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("src45_sql_clone", sqlShallowClone, Some(
      // up23's oracle verbatim: clone head = v3 with view cents +5,
      // source head = v3 untouched — zero-copy independence in one hash
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |tb AS (
        |  SELECT 'clone' AS tbl, event_type,
        |    cents + CASE WHEN event_type = 'view' THEN 5 ELSE 0 END AS cents
        |  FROM v3
        |  UNION ALL
        |  SELECT 'source', event_type, cents FROM v3)
        |SELECT tbl, event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM tb GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("src46_sql_convert", sqlConvert, Some(
      // up30's oracle verbatim: conversion state ∪ the post-convert
      // SQL-inserted slice
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |v1 AS (
        |  SELECT event_type, cents FROM base
        |  UNION ALL
        |  SELECT event_type, cents + 40 FROM base WHERE event_id % 17 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v1 GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("src43_sql_table_changes", sqlTableChanges, Some(
      // up15's EXCEPT ALL replay verbatim — the TVF must emit exactly
      // the library CDF's rows
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |ch AS (
        |  SELECT 1 AS version, 'insert' AS change, event_type, cents
        |    FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM base)
        |  UNION ALL
        |  SELECT 1, 'delete', event_type, cents
        |    FROM (SELECT * FROM base EXCEPT ALL SELECT * FROM v1)
        |  UNION ALL
        |  SELECT 2, 'insert', event_type, cents
        |    FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
        |  UNION ALL
        |  SELECT 2, 'delete', event_type, cents
        |    FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
        |  UNION ALL
        |  SELECT 3, 'insert', event_type, cents
        |    FROM (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v2)
        |  UNION ALL
        |  SELECT 3, 'delete', event_type, cents
        |    FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v3))
        |SELECT CAST(version AS BIGINT) AS version, change, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM ch GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
      staged = true),
    QueryDef("src47_sql_table_changes_open", sqlTableChangesOpen, Some(
      // the v2→head slice: on the 4-version store the open upper bound
      // resolves to 3, so the feed is exactly the v2→v3 COW delete
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |ch AS (
        |  SELECT 'insert' AS change, event_type, cents
        |    FROM (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v2)
        |  UNION ALL
        |  SELECT 'delete', event_type, cents
        |    FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v3))
        |SELECT change, event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM ch GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("src48_sql_apply_changes", sqlApplyChanges, Some(
      // st33's oracle verbatim: silver head ≡ bronze v3 state recomputed
      // from raw events — a lost, half-applied, or double-applied
      // version breaks the hash
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe)))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v3 GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("src49_sql_describe_detail", sqlDescribeDetail, Some(
      // protocol facts (head version 3, day layout, empty constraint
      // set, zero schema ops) + the DATA-derived row count: the v3
      // state recomputed from raw events — a stats-bookkeeping bug in
      // the summary breaks the hash
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe)))
        |SELECT 'tt.src49_store' AS "table",
        |  CAST(3 AS BIGINT) AS head_version,
        |  (SELECT count(*) FROM v3) AS num_rows,
        |  'day' AS partition_columns, '' AS constraints,
        |  CAST(0 AS BIGINT) AS num_schema_ops""".stripMargin),
      staged = true),
    QueryDef("src44_sql_add_column", sqlAddColumn, Some(
      // v3 (bonus reads NULL — metadata add, no file touched) ∪ the
      // post-add insert slice carrying it; n_bonus counts ONLY evolved
      // rows, so a backfilled or dropped column breaks the hash
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |head AS (
        |  SELECT event_type, cents, CAST(NULL AS BIGINT) AS bonus FROM v3
        |  UNION ALL
        |  SELECT event_type, cents, cents % 97 AS bonus
        |  FROM base WHERE event_id % 29 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  count(bonus) AS n_bonus, CAST(sum(bonus) AS BIGINT) AS sum_bonus
        |FROM head GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("src42_sql_constraint", sqlCheckConstraint, Some(
      // v3 ∪ the constrained insert's slice — a refused-but-committed
      // or double-committed insert breaks the hash
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |head AS (
        |  SELECT event_type, cents FROM v3
        |  UNION ALL
        |  SELECT event_type, cents + 100 FROM base WHERE event_id % 23 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM head GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("src41_sql_history", sqlDescribeHistory, Some(
      // up24's oracle shape over the 4-version base store: ops and the
      // deterministic clock are protocol constants; the ROW COUNTS are
      // data-derived — a stats-bookkeeping bug breaks the hash
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v3 AS (
        |  SELECT * FROM v1
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |counts AS (
        |  SELECT 0 AS version, 'write' AS op, (SELECT count(*) FROM base) AS n_rows
        |  UNION ALL SELECT 1, 'append', (SELECT count(*) FROM v1)
        |  UNION ALL SELECT 2, 'update', (SELECT count(*) FROM v1)
        |  UNION ALL SELECT 3, 'delete', (SELECT count(*) FROM v3))
        |SELECT CAST(version AS BIGINT) AS version, op,
        |  TIMESTAMP '2024-06-01 00:00:00' + to_hours(version) AS commit_ts,
        |  CAST(n_rows AS BIGINT) AS n_rows
        |FROM counts ORDER BY version""".stripMargin),
      staged = true),
    QueryDef("src40_sql_vacuum", sqlVacuum, Some(
      // up14's retained states through the SQL statement
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |all_v AS (
        |  SELECT 2 AS version, event_type, cents FROM v2
        |  UNION ALL SELECT 3, event_type, cents FROM v3)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM all_v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("src39_sql_optimize", sqlOptimize, Some(
      // the v3 state at BOTH v3 and v4: the SQL-spelled clustered
      // rewrite must be a logical no-op
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |vs AS (SELECT * FROM (VALUES (3), (4)) AS t(version))
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM vs CROSS JOIN v3
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("src38_sql_ctas", sqlCreateTableAsSelect, Some(
      // the CTAS body re-derived from raw events — a lost create or a
      // doubled insert breaks the hash
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("src37_sql_restore", sqlRestore, Some(
      // up22's states through the SQL spelling: v3 = pre-restore head
      // (history preserved), v4 = v1's state re-served as head
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |all_v AS (
        |  SELECT 3 AS version, event_type, cents FROM v3
        |  UNION ALL SELECT 4, event_type, cents FROM v1)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM all_v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("src36_sql_alter_column", sqlAlterColumn, Some(
      // head state under the renamed column: v3 ∪ evolved batch ∪ the
      // post-rename SQL-inserted slice, aggregated as `amount`
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |head AS (
        |  SELECT event_type, cents FROM v3
        |  UNION ALL
        |  SELECT event_type, cents FROM base WHERE event_id % 11 = 0
        |  UNION ALL
        |  SELECT event_type, cents + 410 FROM base WHERE event_id % 27 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_amount
        |FROM head GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("src35_sql_insert", sqlInsertInto, Some(
      // v3 plus the inserted +7e9 slice — a lost or doubled insert
      // commit breaks the hash
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |v4 AS (
        |  SELECT * FROM v3
        |  UNION ALL
        |  SELECT event_id + 7000000000, event_type, cents + 250, day
        |  FROM base WHERE event_id % 19 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v4 GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("src34_sql_timestamp_as_of", sqlTimestampAsOf, Some(
      // the recomputed v1 (floored from 01:30) and v3 (exact-hit) states
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |all_v AS (
        |  SELECT 1 AS version, event_type, cents FROM v1
        |  UNION ALL SELECT 3, event_type, cents FROM v3)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM all_v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      staged = true),
    QueryDef("src33_sql_delete_merge", sqlDeleteThenMerge, Some(
      // post-delete v4 (v3 minus the % 23 keys) with MERGE's semantics
      // applied on top: source keys replaced/inserted — including keys
      // whose only row the DELETE removed (insert arm, NOT a silent
      // resurrection of the deleted image)
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1,
        |         min(day) + 2 AS dcut FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |v4 AS (SELECT * FROM v3 WHERE event_id % 23 <> 0),
        |v5 AS (
        |  SELECT * FROM v4
        |  WHERE NOT (event_id % 13 = 0 AND event_id < 1000000000
        |             AND day <= (SELECT dcut FROM probe))
        |  UNION ALL
        |  SELECT event_id, event_type, cents + 1000, day FROM base
        |  WHERE event_id % 13 = 0 AND day <= (SELECT dcut FROM probe)
        |  UNION ALL
        |  SELECT event_id + 3000000000, event_type, cents + 500, day
        |  FROM base
        |  WHERE event_id % 17 = 0 AND day <= (SELECT dcut FROM probe))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v5 GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("src31_sql_update", sqlUpdate, Some(
      // up21's post-update head state (purchases +77 over v3)
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |v4 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN event_type = 'purchase' THEN 77 ELSE 0 END
        |      AS cents, day
        |  FROM v3)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v4 GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("src30_sql_delete", sqlDeleteFrom, Some(
      // up20's post-delete state (v3 minus the % 23 keys), answered
      // through the SQL verb + catalog head read
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |probe AS (
        |  SELECT min(day) + 3 AS d0, min(day) + 5 AS d1 FROM base),
        |appended AS (
        |  SELECT event_id + 1000000000 AS event_id, event_type, cents, day
        |  FROM base WHERE event_id % 7 = 0),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    cents + CASE WHEN day = (SELECT d0 FROM probe)
        |      THEN 9 ELSE 0 END AS cents, day
        |  FROM v1),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE NOT (event_type = 'click' AND day = (SELECT d1 FROM probe))),
        |v4 AS (SELECT * FROM v3 WHERE event_id % 23 <> 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v4 GROUP BY 1 ORDER BY 1""".stripMargin),
      staged = true),
    QueryDef("src28_sql_time_travel", sqlTimeTravel,
      // up13's oracle VERBATIM: the SQL front door must answer exactly
      // what the DataFrame verb answers
      graft.ops.Mutations.defs.find(_.name == "up13_time_travel").get.oracle,
      staged = true),
    QueryDef("src29_sql_merge", sqlMergeInto,
      // up18's oracle VERBATIM
      graft.ops.Mutations.defs.find(_.name == "up18_merge_into").get.oracle,
      staged = true),
    QueryDef("src26_partition_evolution", partitionEvolutionQuery, Some(
      """WITH probe AS (
        |  SELECT min(CAST(ts AS DATE)) + 10 AS lo,
        |    min(CAST(ts AS DATE)) + 20 AS hi FROM events)
        |SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events, probe
        |WHERE CAST(ts AS DATE) BETWEEN lo AND hi AND event_type = 'click'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src27_string_skipping", stringSkippingQuery, Some(
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |  round(sum(value), 4) AS sum_value
        |FROM events WHERE event_type = 'purchase' AND user_id <= 60
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src24_agg_pushdown", aggregatePushdown, Some(
      """SELECT count(*) AS n, min(l_orderkey) AS first_key,
        |  max(l_orderkey) AS last_key FROM lineitem""".stripMargin)),
    QueryDef("src25_bucketed_rollup", bucketedRollup, Some(
      """SELECT l_orderkey, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src22_zorder_skipping", zorderBoxQuery, Some(
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 3 AND 9
        |  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-19'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src23_fileindex_skipping", fileIndexBoxQuery, Some(
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 2 AND 11
        |  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-14'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("j13_dynamic_pruning", dynamicPartitionPruning, Some(
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("j14_bucketed_asof", bucketedAsOf,
      Some(graft.ops.Analytics.asofOracle)),
    QueryDef("src17_bloom_index", (s, d) => bloomPointLookup(s, d), Some(
      """SELECT CAST(42 AS BIGINT) AS user_id, count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value
        |FROM events WHERE user_id = 42""".stripMargin)),
    QueryDef("src16_mor_deletes", mergeOnReadDeletes, Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE o_orderpriority <> '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src15_incremental_manifest", incrementalManifestScan, Some(
      """SELECT count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 4) AS sum_value
        |FROM events WHERE ts >= TIMESTAMP '2024-01-25'""".stripMargin)),
    QueryDef("src14_time_travel", timeTravelRead, Some(
      """SELECT 'current' AS version, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |UNION ALL
        |SELECT 'previous', count(*), round(sum(o_totalprice), 2)
        |FROM orders WHERE o_orderkey % 2 = 0
        |ORDER BY version""".stripMargin)),
    QueryDef("src13_write_audit_publish", writeAuditPublish, Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src12_zorder_cluster", zorderClusteredScan, Some(
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS price_sum
        |FROM lineitem WHERE l_suppkey <= 2
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src11_sorted_cluster", sortedClusteredScan, Some(
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS price_sum
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-02-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src10_compaction", (s, d) => compactSmallFiles(s, d), Some(
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT event_id) AS n_ids,
        |  round(sum(value), 2) AS value_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src21_warc_html", warcHtmlIngest, Some(
      // t34's token-prefix contract makes every per-doc extraction
      // statistic (and its digest) a pure function of documents.text,
      // so the oracle replays the whole WARC→HTTP→HTML chain's OUTPUT
      // without parsing any of it
      """WITH parsed AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS nw
        |  FROM documents WHERE doc_id % 97 <> 13),
        |k AS (
        |  SELECT source,
        |    CAST(ceil(nw / 8.0) AS BIGINT) + 3 AS nb,
        |    CAST(nw // 8 + CASE WHEN nw % 8 >= 6 THEN 1 ELSE 0 END AS BIGINT)
        |      AS kb,
        |    CAST((nw - nw % 8)
        |      + CASE WHEN nw % 8 >= 6 THEN nw % 8 ELSE 0 END AS BIGINT) AS kw,
        |    md5(array_to_string(list_slice(toks, 1,
        |      (nw - nw % 8) + CASE WHEN nw % 8 >= 6 THEN nw % 8 ELSE 0 END),
        |      ' ')) AS cm
        |  FROM parsed)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(nb) AS BIGINT) AS n_blocks,
        |  CAST(sum(kb) AS BIGINT) AS n_kept_blocks,
        |  CAST(sum(kw) AS BIGINT) AS n_kept_words,
        |  count(DISTINCT cm) AS n_distinct_clean
        |FROM k GROUP BY source ORDER BY source""".stripMargin)),
    QueryDef("src20_wet_ingest", wetIngest, Some(
      // the fixture is a pure function of documents: ok records are the
      // non-corrupt docs, bad_record count = the corrupt-rule docs,
      // truncated = one planted tail per shard (8), fetch times replay
      // the doc_id formula — so DuckDB recomputes the whole audit
      // without ever seeing a WARC byte
      """WITH ok AS (
        |  SELECT source, doc_id, octet_length(CAST(text AS BLOB)) AS nb,
        |    TIMESTAMP '2024-01-01 00:00:00'
        |      + INTERVAL (doc_id % 86400) SECOND AS ts
        |  FROM documents WHERE doc_id % 97 <> 13),
        |per_src AS (
        |  SELECT source AS bucket, count(*) AS n_records,
        |    CAST(sum(nb) AS BIGINT) AS total_text_bytes,
        |    CAST(0 AS BIGINT) AS n_text_mismatch,
        |    strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_fetch,
        |    strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_fetch
        |  FROM ok GROUP BY source),
        |quarantined AS (
        |  SELECT '_quarantined_bad_record' AS bucket,
        |    (SELECT count(*) FROM documents WHERE doc_id % 97 = 13) AS n_records,
        |    CAST(0 AS BIGINT) AS total_text_bytes,
        |    CAST(0 AS BIGINT) AS n_text_mismatch, '' AS min_fetch, '' AS max_fetch
        |  UNION ALL
        |  SELECT '_quarantined_truncated', 8, CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), '', '')
        |SELECT * FROM per_src UNION ALL SELECT * FROM quarantined
        |ORDER BY bucket""".stripMargin)),
    QueryDef("src19_gzip_ingest", gzipIngest, Some(
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src1_json_roundtrip", jsonRoundtrip, Some(
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src2_partitioned_pruning", partitionedPruning, Some(
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS revenue,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src3_bucketed_join", bucketedJoin, Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src5_csv_escaping", csvEscapingRoundtrip, Some(
      """SELECT n_nationkey,
        |  CAST(length(n_name || ', "x"' || chr(10) || 'line\2') AS INT) AS n_len,
        |  md5(n_name || ', "x"' || chr(10) || 'line\2') AS tricky_md5
        |FROM nation ORDER BY n_nationkey""".stripMargin)),
    QueryDef("src18_avro_roundtrip", avroRoundtrip, Some(
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty,
        |  count(DISTINCT l_suppkey) AS n_supp
        |FROM lineitem WHERE l_returnflag <> 'N'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src4_orc_roundtrip", orcRoundtrip, Some(
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty,
        |  count(DISTINCT l_suppkey) AS n_supp
        |FROM lineitem WHERE l_returnflag <> 'N'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src8_csv_bad_records", csvBadRecords, Some(
      """SELECT count(CASE WHEN n_nationkey % 5 <> 0 THEN 1 END) AS n_good,
        |  count(CASE WHEN n_nationkey % 5 = 0 THEN 1 END) AS n_bad,
        |  CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey END) AS BIGINT) AS good_key_sum
        |FROM nation""".stripMargin)),
    QueryDef("src9_schema_evolution", schemaEvolution, Some(
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '(pre-evolution)'
        |            ELSE o_orderpriority END AS prio,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src7_xml_roundtrip", xmlRoundtrip, Some(
      """SELECT s_nationkey, count(*) AS n,
        |  round(sum(s_acctbal), 2) AS acctbal_sum
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("src6_jdbc_roundtrip", jdbcRoundtrip, Some(
      """SELECT n_regionkey, count(*) AS n,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation WHERE n_nationkey < 20
        |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
