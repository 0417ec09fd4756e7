package graft.sources

import java.util.regex.Pattern
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Sifter's extractor inventory (SURVEY.md §2.1) as DataFrame readers.
  *
  * The `table` reader reproduces the reference's TSV semantics exactly
  * (extractors/tabular_load.go:18-160): `sep`, `comment` lines, `rowSkip`,
  * explicit `columns` vs header row, short-row padding with "" (lines
  * 112-128), and `extraColumns` overflow array (lines 93-97). Spark's CSV
  * source can't express pad/overflow, so rows are parsed as text with
  * codegen'd split/get — still columnar, still one pass.
  */
object Sources {

  final case class TableSpec(
      sep: String = "\t",
      comment: String = "#",
      rowSkip: Int = 0,
      columns: Option[Seq[String]] = None,
      extraColumns: Option[String] = None)

  /** Lines of one file with per-file post-comment record numbers —
    * a sequential scan of exactly one file per call, mirroring the
    * reference's csv.Reader loop (comments are dropped by the reader
    * BEFORE rowSkip counts records, tabular_load.go:88-135). The stream
    * closes when the iterator exhausts. */
  private def fileRecords(in: java.io.InputStream, comment: String): Iterator[(String, Long)] = {
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    var rec = -1L
    val it = src.getLines()
      .filter(l => comment.isEmpty || !l.startsWith(comment))
      .map { l => rec += 1; (l, rec) }
    new Iterator[(String, Long)] {
      def hasNext: Boolean = { val h = it.hasNext; if (!h) src.close(); h }
      def next(): (String, Long) = it.next()
    }
  }

  private def openFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): java.io.InputStream = {
    val raw = fs.open(p)
    if (p.getName.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw) else raw
  }

  /** TSV/CSV with sifter semantics: `comment` lines dropped first,
    * `rowSkip` then counts post-comment RECORDS, the header (when no
    * explicit `columns`) is the first post-skip record — all PER FILE
    * when `path` is a glob (the reference processes one file per table
    * step; glob inputs repeat those semantics per file). Each matched
    * file is one sequential task — the reference's scan model — opened
    * through the Hadoop FileSystem so distributed storage works; field
    * split / short-row padding / overflow stay columnar. Quote handling
    * is plain-split (the reference's LazyQuotes mode for quote-free
    * data). */
  /** One file's header record (first post-comment, post-skip line).
    * Object-level (not a local def) so executor lambdas reach it
    * through the static module accessor instead of capturing the
    * enclosing scope. */
  private def headerPeek(fsys: org.apache.hadoop.fs.FileSystem, f: String,
      comment: String, skip: Int): Option[String] = {
    val in = openFile(fsys, new org.apache.hadoop.fs.Path(f))
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(l => comment.isEmpty || !l.startsWith(comment))
        .slice(skip, skip + 1).toList.headOption
    } finally in.close()
  }

  def table(spark: SparkSession, path: String, spec: TableSpec = TableSpec()): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val hconf = spark.sessionState.newHadoopConf()
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    // resolve against the PATH's filesystem (not the default one): a
    // fully-qualified s3a://... glob must not be listed via file:
    val fs = new HPath(path).getFileSystem(hconf)
    val files = (fs.globStatus(new HPath(path)) match {
      case null => Array.empty[org.apache.hadoop.fs.FileStatus]
      case st => st
    }).map(_.getPath.toString).sorted.toIndexedSeq
    require(files.nonEmpty, s"table source '$path': no files match")

    val comment = spec.comment
    val rowSkip = spec.rowSkip.toLong
    val schema = StructType(Seq(StructField("value", StringType),
      StructField("__rec", LongType)))
    val rdd = spark.sparkContext.parallelize(files, files.length).flatMap { f =>
      val p = new HPath(f)
      fileRecords(openFile(p.getFileSystem(conf.value), p), comment)
        .filter(_._2 >= rowSkip)
        .map { case (l, r) => Row(l, r) }
    }
    val afterSkip = spark.createDataFrame(rdd, schema)

    val (cols: Seq[String], body: DataFrame) = spec.columns match {
      case Some(cs) => (cs, afterSkip)
      case None =>
        // header mode: each file's header record is peeked driver-side
        // (one small read per file — the same opens the reference's
        // sequential per-file loop performs). When every file agrees on
        // the header, ONE multi-file frame proceeds; files whose header
        // ORDER/NAMES differ must NOT be split positionally under the
        // first file's names (silent column misalignment) — they fall
        // back to per-file loads unioned by NAME, the reference's
        // per-file mapping semantics.
        // the peeks run as a SPARK JOB over the file list (ADVICE r5:
        // sequential driver-side opens made 10^4-file globs
        // driver-bound before any real work); each task reads only one
        // header record. Single file skips the job scheduling cost.
        val skip = spec.rowSkip
        val headers: Seq[(String, Option[String])] =
          if (files.length == 1)
            files.map(f => f -> headerPeek(fs, f, comment, skip))
          else spark.sparkContext
            .parallelize(files, math.min(files.length, 64))
            .map(f => f -> Sources.headerPeek(
              new HPath(f).getFileSystem(conf.value), f, comment, skip))
            .collect().toIndexedSeq.sortBy(_._1)
        val present = headers.collect { case (f, Some(h)) => (f, h) }
        if (present.isEmpty) throw new IllegalArgumentException(
          s"table source '$path': no header record (files empty, fully " +
            "commented, or rowSkip past the end); pass explicit columns")
        if (present.map(_._2).distinct.size > 1)
          return present.map { case (f, _) => table(spark, f, spec) }
            .reduce(_.unionByName(_, allowMissingColumns = true))
        val names = dedupHeader(present.head._2.split(Pattern.quote(spec.sep), -1).toSeq)
        (names, afterSkip.filter(col("__rec") > rowSkip))
    }

    val parts = split(col("value"), Pattern.quote(spec.sep), -1)
    val fields = cols.zipWithIndex.map { case (c, i) =>
      coalesce(get(parts, lit(i)), lit("")).as(c) // short-row padding
    }
    val extras = spec.extraColumns.map { name =>
      when(size(parts) > cols.size,
        slice(parts, lit(cols.size + 1), size(parts) - lit(cols.size)))
        .otherwise(array().cast("array<string>")).as(name)
    }
    body.select((fields ++ extras): _*)
  }

  /** Splittable fast path for plain delimited files: Spark's native CSV
    * source, so a single huge file fans out across tasks (maxPartitionBytes
    * splits) and column pruning reaches the scan — the 100 TB shape
    * [[table]]'s one-file-per-task sequential reader can't give.
    * Semantics covered natively: `sep`, `comment` (per-record, any
    * position), per-file header dropping, explicit `columns`. NOT
    * covered (use [[table]] when the data needs them): `rowSkip`,
    * `extraColumns` overflow, ""-padding of short rows (native CSV
    * yields null, the reference pads ""). All columns load as strings,
    * like the reference. */
  def tableNative(spark: SparkSession, path: String,
      sep: String = "\t", comment: String = "#",
      columns: Option[Seq[String]] = None): DataFrame = {
    val r = spark.read
      .option("sep", sep)
      // "\u0000" is Spark's "comments disabled" sentinel (a space here
      // would silently drop records starting with ' ')
      .option("comment", if (comment.isEmpty) "\u0000" else comment)
      .option("inferSchema", "false")
      .option("header", columns.isEmpty)
    columns match {
      case Some(cs) =>
        r.schema(StructType(cs.map(c => StructField(c, StringType)))).csv(path)
      case None => r.csv(path)
    }
  }

  /** Duplicate header names deduped as name, name_1, name_2...
    * (tabular_load.go:37-49 buildUniqueArray). */
  def dedupHeader(names: Seq[String]): Seq[String] = {
    // generated names must be checked against everything taken so far:
    // header [a, a_1, a] would otherwise suffix the second `a` to the
    // already-present a_1 and emit a duplicate column after all
    val taken = scala.collection.mutable.Set.empty[String]
    val seen = scala.collection.mutable.Map.empty[String, Int]
    names.map { n =>
      var k = seen.getOrElse(n, 0)
      var candidate = if (k == 0) n else s"${n}_$k"
      while (taken(candidate)) {
        k += 1
        candidate = s"${n}_$k"
      }
      seen(n) = k + 1
      taken += candidate
      candidate
    }
  }

  /** NDJSON (one object per line, opt .gz) — json_load.go:17-45. */
  def ndjson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** [[ndjson]] with a caller-pinned schema: skips eager schema
    * inference, which is a FULL extra read of every matched file —
    * at 10^5 tiny files the inference pass costs ~3x one scan
    * (StorageBench glob_fanin). Curried so it drops into
    * [[glob]]'s `inner` seam: `glob(s, pat, ndjsonWithSchema(sch))`.
    * The caller owns the contract that files conform (fields absent
    * from the schema are dropped, absent from the data are null —
    * Spark JSON semantics). */
  def ndjsonWithSchema(schema: org.apache.spark.sql.types.StructType)(
      spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** Single multiline JSON document — json_load.go:47-68. */
  def jsonDoc(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", value = true).json(path)

  /** Avro OCF — avro_load.go:15-58. The spark-avro module isn't on this
    * classpath (only avro-core), so records are decoded per-partition
    * with the bundled GenericDatumReader and handed to the JSON reader
    * for schema inference — same rows-as-maps semantics as the
    * reference's avro extractor. One file per task; fine for the OCF
    * sizes sifter handles (a real deployment adds spark-avro and this
    * becomes `read.format("avro")` behind the same signature).
    *
    * Union values render in goavro's "native Go form" — non-null union
    * members wrap as `{"<type>": value}` with the branch's (full) type
    * name as the key — because that is the row shape the reference's
    * playbooks see and unwrap (linkedin/goavro v2, the library
    * avro_load.go uses; the PFB example's gpython transform exists
    * precisely to strip these wrappers). Avro's own
    * GenericRecord.toString flattens `[null, X]` unions, silently
    * diverging from every playbook written against goavro rows. */
  def avro(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val hconf = spark.sessionState.newHadoopConf()
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    val fs = new HPath(path).getFileSystem(hconf)
    val files = fs.globStatus(new HPath(path)) match {
      case null => Array.empty[String]
      case st => st.map(_.getPath.toString)
    }
    // loud like table()/glob(): a typo'd path must not become a silent
    // zero-column frame that fails far downstream
    require(files.nonEmpty, s"avro source '$path': no files match")
    val jsons = spark.sparkContext
      .parallelize(files.toIndexedSeq, math.max(files.length, 1))
      .flatMap { f =>
        // Hadoop FS open (not java.io.File): works against distributed
        // storage from any executor, not just local paths
        val p = new HPath(f)
        val reader = new org.apache.avro.file.DataFileStream(
          p.getFileSystem(conf.value).open(p),
          new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
        try {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          while (reader.hasNext) {
            val rec = reader.next()
            buf += om.writeValueAsString(AvroJson.toJackson(rec, rec.getSchema, om))
          }
          buf
        } finally reader.close()
      }
    import spark.implicits._
    spark.read.json(spark.createDataset(jsons))
  }

  /** Inline literal rows — embedded.go:5-16. */
  def embedded(spark: SparkSession, rows: Seq[(String, String)],
      keyName: String, valueName: String): DataFrame = {
    import spark.implicits._
    rows.toDF(keyName, valueName)
  }

  /** Glob of files through an inner reader, with the source filename /
    * filepath stored per row — glob_load.go:14-98 (parallelism is
    * Spark's splits rather than the reference's 4 goroutines).
    *
    * When a filename/filepath column is requested, the glob is expanded
    * HERE and the inner reader runs once per file with the name as a
    * literal column: `input_file_name()` only works for file-source
    * scans, and table/avro/xml build rows via parallelize — it would
    * silently store "" for every row. Per-file runs also match the
    * reference's per-file inner-loader semantics exactly. Without the
    * stored columns the pattern goes straight to the inner reader (one
    * multi-file scan). */
  def glob(spark: SparkSession, pattern: String,
      inner: (SparkSession, String) => DataFrame,
      storeFilename: Option[String] = None,
      storeFilepath: Option[String] = None,
      fileSourceInner: Boolean = false): DataFrame = {
    if (storeFilename.isEmpty && storeFilepath.isEmpty) inner(spark, pattern)
    else if (fileSourceInner) {
      // SCALE PATH for inners that are Spark file-source scans (ndjson/
      // jsonDoc/tableNative): ONE multi-file scan + input_file_name(),
      // instead of a unionByName fold of per-file plans — at 10^5 files
      // the fold is a plan-size explosion and each file a driver round
      // trip. Schema union across heterogeneous files is the file
      // source's native behavior, identical to the per-file fold with
      // allowMissingColumns. input_file_name() yields a URI ("file:/x");
      // storeFilepath strips the scheme to match the per-file path form.
      // input_file_name() is a percent-ENCODED URI: decode it so names
      // with spaces etc. match the per-file path's plain form. A raw
      // '+' is legal in a URI path (means plus, not space) — protect it
      // before url_decode's form-decoding turns it into a space.
      val withUri = inner(spark, pattern).withColumn("__uri",
        url_decode(regexp_replace(input_file_name(), "\\+", "%2B")))
      val withName = storeFilename.fold(withUri)(c =>
        withUri.withColumn(c, regexp_extract(col("__uri"), "[^/]+$", 0)))
      // local URIs ("file:///x" here, "file:/x" from qualified Hadoop
      // paths) normalize to the plain path; remote schemes stay intact
      storeFilepath.fold(withName)(c =>
        withName.withColumn(c, regexp_replace(col("__uri"), "^file:/+", "/")))
        .drop("__uri")
    } else {
      import org.apache.hadoop.fs.{Path => HPath}
      val hconf = spark.sessionState.newHadoopConf()
      val fs = new HPath(pattern).getFileSystem(hconf)
      val files = (fs.globStatus(new HPath(pattern)) match {
        case null => Array.empty[org.apache.hadoop.fs.FileStatus]
        case st => st
      }).map(_.getPath).sortBy(_.toString).toIndexedSeq
      require(files.nonEmpty, s"glob source '$pattern': no files match")
      files.map { p =>
        val df = inner(spark, p.toString)
        // same normalization as the fast path: plain path for file://,
        // full qualified string for remote schemes
        val pathStr =
          if (p.toUri.getScheme == "file" || p.toUri.getScheme == null)
            p.toUri.getPath
          else p.toString
        val withName = storeFilename.fold(df)(c => df.withColumn(c, lit(p.getName)))
        storeFilepath.fold(withName)(c => withName.withColumn(c, lit(pathStr)))
      // allowMissingColumns: per-file schema inference (NDJSON with
      // optional fields) must union like one multi-file scan would —
      // fields absent in a file null-fill instead of AnalysisException
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** gripql-style graph file loaders (graph_file_reader.go:15-84):
    * NDJSON of vertices {gid,label,data} / edges {gid,label,from,to,data}
    * into the engine's vertex/edge frames. `data` serializes back to
    * JSON (to_json, NOT a struct cast — Spark's struct-to-string
    * rendering drops the field names); files where no row carries
    * `data` get a null column instead of an unresolved-column error. */
  private def jsonDataCol(df: DataFrame): Column =
    if (!df.columns.contains("data")) lit(null).cast("string").as("data")
    else df.schema("data").dataType.typeName match {
      case "struct" | "map" | "array" => to_json(col("data")).as("data")
      case _ => col("data").cast("string").as("data")
    }

  def vertexFile(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.json(path)
    df.select(col("gid").as("_id"), col("label").as("_label"), jsonDataCol(df))
  }

  def edgeFile(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.json(path)
    df.select(col("gid").as("_id"), col("label").as("_label"),
      col("from").as("_from"), col("to").as("_to"), jsonDataCol(df))
  }
}
