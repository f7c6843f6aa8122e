package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.api.{ColType, GraftFrame}

/** Data sources with *declared* schemas — the reference never infers
  * (SURVEY §1.3; reference README.md:83-91). One call per reference
  * source/parser combination (datasource/file + dsv/jsonl parsers,
  * datasource/memory), plus parquet, which the reference lacks but every
  * Spark pipeline starts from.
  *
  * Scale notes: globs fan out to Spark's FileScanRDD (split planning,
  * locality, `spark.sql.files.maxPartitionBytes` sizing) — the reference's
  * 1-file-1-loader round-robin (file_datasource.go:19-63) is subsumed.
  * Column pruning and predicate pushdown reach parquet natively.
  */
object Sources {

  /** S1+P1: delimited text over a glob with declared schema (reference
    * datasource/parser/dsv/dsv_parser.go:11-69). Options mirror the
    * reference parser's conf: delimiter, comment char, header skip,
    * nil-value sentinel.
    */
  def csv(spark: SparkSession, glob: String, schema: StructType,
          delimiter: String = ",", hasHeader: Boolean = false,
          comment: String = "#", nilValue: String = ""): GraftFrame =
    GraftFrame(spark.read
      .schema(schema)
      .option("sep", delimiter)
      .option("header", hasHeader.toString)
      .option("comment", comment)
      .option("nullValue", nilValue)
      .option("mode", "PERMISSIVE")
      .csv(glob))

  /** S1+P2: JSON-lines over a glob with declared schema (reference
    * datasource/parser/jsonl/jsonl_parser.go:11-66). The reference's
    * dotted-gjson-path columns become real nested struct access —
    * declare nested fields in the schema and select `col("meta.uuid")`.
    */
  def jsonl(spark: SparkSession, glob: String, schema: StructType): GraftFrame =
    GraftFrame(spark.read.schema(schema).json(glob))

  /** Parquet over a glob; schema enforced if provided. */
  def parquet(spark: SparkSession, glob: String,
              schema: Option[StructType] = None): GraftFrame = {
    val r = spark.read
    GraftFrame(schema.fold(r.parquet(glob))(s => r.schema(s).parquet(glob)))
  }

  /** ORC over a glob; schema enforced if provided. Same columnar
    * pushdown/pruning properties as parquet (both are Spark-native
    * vectorized formats) — included so a corpus landed by an ORC-based
    * warehouse needs no conversion pass.
    */
  def orc(spark: SparkSession, glob: String,
          schema: Option[StructType] = None): GraftFrame = {
    val r = spark.read
    GraftFrame(schema.fold(r.orc(glob))(s => r.schema(s).orc(glob)))
  }

  /** Raw binary files (image/audio/video dirs) as rows — the ingestion
    * rung in front of [[graft.multimodal.Multimodal]]: a directory of
    * blobs becomes (path, modificationTime, length, content binary)
    * via Spark's binaryFile source, ready for the decode / feature /
    * near-dup chain without a conversion pass. `pathGlob` filters by
    * file name (e.g. `*.png`); `maxBytes` guards a single huge blob
    * from dominating one task's memory (binary rows don't split — an
    * oversize file is filtered by a plain `length` predicate rather
    * than OOMing at task 40k of 50k; the source stays LAZY, so audit
    * the drop count with `where(length > maxBytes).count()` on the
    * unfiltered read if the pipeline needs it on record). The per-file
    * row is read WHERE the file lives — listing scales with the
    * driver's file index, content never moves until a transform asks
    * for it.
    */
  def binaryFiles(spark: SparkSession, dir: String,
                  pathGlob: String = "*",
                  maxBytes: Long = 256L << 20): GraftFrame = {
    require(maxBytes > 0, s"maxBytes must be positive: $maxBytes")
    GraftFrame(spark.read.format("binaryFile")
      .option("pathGlobFilter", pathGlob)
      .load(dir)
      .where(org.apache.spark.sql.functions.col("length") <= maxBytes))
  }

  /** WARC (ISO 28500) crawl-archive reader — the container format real
    * crawl corpora arrive in (Common-Crawl-class dumps): each file is a
    * sequence of records `WARC/x.y\r\n headers \r\n\r\n payload
    * \r\n\r\n`, framed by the MANDATORY `Content-Length` header — never
    * by delimiter scanning, because an HTML payload may legally contain
    * `\r\n\r\nWARC/1.0` (spec-pinned: such a decoy stays inside its
    * record's payload byte-for-byte). Output: one row per record —
    * (path, record_idx, warc_type, target_uri, warc_date, content_type,
    * content_length, payload binary), optional headers null when
    * absent; compose with [[graft.functions.Corpus.htmlExtract]] /
    * [[graft.multimodal.Multimodal]] downstream.
    *
    * Scale shape: WARC files don't split (records are not aligned to
    * byte ranges a reader could seek; production archives are ~1 GB by
    * convention, usually per-record gzip members), so the unit of
    * parallelism is the FILE — `binaryFile` rows parse WHERE they are,
    * payload bytes never shuffle in this op. An archive over `maxBytes`
    * FAILS LOUDLY under `strict = true` (path + size in the message —
    * production archives sit near the 1 GB convention, so a silent
    * drop here would be realistic whole-archive data loss, not a
    * corner case); under `strict = false` the oversized file is
    * DROPPED WHOLE, same salvage posture as a broken tail — audit the
    * drop with `binaryFiles(...).df.where(length > maxBytes)` if the
    * run needs it on record. Malformed framing (missing/short
    * Content-Length, unterminated header) FAILS LOUDLY under
    * `strict = true` (file + byte offset in the message); with
    * `strict = false` the file's parsed prefix is kept and the broken
    * tail dropped — the IgnoreRowErrors posture, for salvage runs over
    * damaged archives.
    */
  def warc(spark: SparkSession, dir: String,
           pathGlob: String = "*.warc",
           maxBytes: Long = 1L << 30,
           strict: Boolean = true): GraftFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit, raise_error, when}
    // binaryFiles' length guard is a silent filter — right for blob
    // dirs, wrong for archives, where one dropped file is millions of
    // records. Strict mode converts the guard to a loud refusal.
    val files =
      if (strict)
        spark.read.format("binaryFile").option("pathGlobFilter", pathGlob)
          .load(dir)
          .select(
            when(col("length") > maxBytes,
              raise_error(concat(
                lit("Sources.warc: archive exceeds maxBytes ("),
                col("length"), lit(s" > $maxBytes bytes): "), col("path"))))
              .otherwise(col("path")).as("path"),
            col("content"))
      else binaryFiles(spark, dir, pathGlob, maxBytes).df
        .select(col("path"), col("content"))
    val rows = files
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) => parseWarcRecords(p, bytes, strict) }
      .toDF("path", "record_idx", "warc_type", "target_uri",
        "warc_date", "content_type", "content_length", "payload")
    GraftFrame(rows)
  }

  /** One file's WARC records ([[warc]]'s kernel, pure for direct spec
    * coverage): Content-Length framing, case-insensitive headers,
    * CRLF-run tolerance between records, strict/salvage error modes.
    */
  private[sources] def parseWarcRecords(path: String, bytes: Array[Byte],
      strict: Boolean): Iterator[(String, Long, String, String, String,
      String, Long, Array[Byte])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long,
      String, String, String, String, Long, Array[Byte])]
    var i = 0
    var idx = 0L
    var dead = false
    def fail(msg: String): Unit = {
      if (strict) throw new IllegalArgumentException(
        s"Sources.warc: $msg in $path at byte $i")
      dead = true // salvage mode: keep the parsed prefix, drop the tail
    }
    def startsWith(at: Int, s: String): Boolean =
      at + s.length <= bytes.length &&
        (0 until s.length).forall(k => bytes(at + k) == s.charAt(k).toByte)
    while (i < bytes.length && !dead) {
      if (bytes(i) == '\r' && i + 1 < bytes.length && bytes(i + 1) == '\n') {
        i += 2 // CRLF run between records
      } else if (startsWith(i, "WARC/")) {
        var h = i
        var hEnd = -1
        while (hEnd < 0 && h + 3 < bytes.length) {
          if (bytes(h) == '\r' && bytes(h + 1) == '\n' &&
            bytes(h + 2) == '\r' && bytes(h + 3) == '\n') hEnd = h
          else h += 1
        }
        if (hEnd < 0) fail("unterminated WARC header block")
        else {
          // headers are ASCII by spec — ISO_8859_1 decodes bytes 1:1
          val header = new String(bytes, i, hEnd - i,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          val lines = header.split("\r\n")
          def hv(name: String): String = lines.iterator.drop(1)
            .collectFirst {
              case l if l.length > name.length &&
                l.substring(0, name.length).equalsIgnoreCase(name) &&
                l.charAt(name.length) == ':' =>
                l.substring(name.length + 1).trim
            }.orNull
          Option(hv("Content-Length")).flatMap(_.toLongOption) match {
            case None => fail("missing or non-numeric Content-Length")
            case Some(len) if len < 0 => fail("negative Content-Length")
            case Some(len) =>
              val pStart = hEnd.toLong + 4L
              if (pStart + len > bytes.length)
                fail(s"payload of $len bytes overruns the file")
              else {
                out += ((path, idx, hv("WARC-Type"), hv("WARC-Target-URI"),
                  hv("WARC-Date"), hv("Content-Type"), len,
                  java.util.Arrays.copyOfRange(bytes, pStart.toInt,
                    (pStart + len).toInt)))
                idx += 1
                i = (pStart + len).toInt
              }
          }
        }
      } else fail("expected a WARC/ record marker")
    }
    out.iterator
  }

  /** S2: static in-memory rows (reference
    * datasource/memory/memory_datasource.go:12-43) — test/mock use.
    */
  def memory(spark: SparkSession, rows: Seq[Row], schema: StructType): GraftFrame =
    GraftFrame(spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema))

  /** Declared-schema helper mirroring the reference's builder flow. */
  def schemaOf(cols: (String, ColType)*): StructType =
    cols.foldLeft(graft.api.SchemaBuilder.create()) {
      case (b, (n, t)) => b.createColumn(n, t)
    }.toStruct

  /** Typed csv: like [[csv]], but [[ColType.Time]] formats are honored —
    * the reference's `TimeColumnType{Format}` (column_type.go:210-222)
    * round-trips for any pattern, not just the default. Time columns are
    * read as text and parsed per-column with their declared pattern
    * (Spark's `timestampFormat` option is per-read, so per-column formats
    * need the explicit `to_timestamp` path; it is codegen'd either way).
    */
  def csvTyped(spark: SparkSession, glob: String, cols: Seq[(String, ColType)],
               delimiter: String = ",", hasHeader: Boolean = false,
               comment: String = "#", nilValue: String = ""): GraftFrame =
    GraftFrame(parseTimes(
      csv(spark, glob, rawSchema(cols), delimiter, hasHeader, comment, nilValue).df,
      cols))

  /** Read-side schema: Time columns come in as text, converted after. */
  private def rawSchema(cols: Seq[(String, ColType)]): StructType =
    StructType(cols.map {
      case (n, ColType.Time(_)) =>
        org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)
      case (n, t) => org.apache.spark.sql.types.StructField(n, t.spark)
    })

  private def parseTimes(df: DataFrame, cols: Seq[(String, ColType)]): DataFrame =
    cols.foldLeft(df) {
      case (d, (n, ColType.Time(fmt))) =>
        // try_to_timestamp, not to_timestamp: the read runs PERMISSIVE
        // (bad rows tolerated), and under Spark 4's default ANSI mode a
        // strict parse would fail the whole job on the first malformed
        // cell instead of yielding the null the read mode promises.
        d.withColumn(n, org.apache.spark.sql.functions.try_to_timestamp(
          org.apache.spark.sql.functions.col(n),
          org.apache.spark.sql.functions.lit(fmt)))
      case (d, _) => d
    }
}
