package graft

import graft.dedup.Dedup
import graft.graph.GraphEmit
import graft.oracle.DuckSql
import graft.ops.{Reshape, RowOps}
import graft.rules.FileRules
import graft.multimodal.Multimodal
import graft.sim.{Ann, Ivf}
import graft.synth.FilesTable
import graft.text.TextOps
import graft.validate._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import scala.jdk.CollectionConverters._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB oracle in [[oracleSql]] computing the
  * same result from the same parquet tables. Column names and types are
  * aligned on both sides (the driver hash-compares after sorting columns
  * by name).
  */
object SparkEntry {

  private val profiledCols =
    Seq("repo", "path", "commit", "lang", "content", "content_sha256")

  /** Committed raw-file fixtures for the SOURCE oracles — the one thing
    * parquet tables can't exercise is the file parsers themselves
    * (tabular_load.go's comment/rowSkip/pad semantics, NDJSON schema
    * union). Resolved relative to the repo root so both the Spark
    * reader and the DuckDB oracle SQL (which re-derives the semantics
    * from raw lines) see the same bytes. */
  private val fixturesDir = {
    // resolved against the CWD when launched from the repo root (the
    // sbt/driver case); otherwise fall back to the canonical checkout
    // location so Verify/Bench work from any working directory
    val local = new java.io.File("fixtures/src_oracle")
    if (local.isDirectory) local.getAbsolutePath
    else "/root/repo/fixtures/src_oracle"
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scale-adaptive scan spread (optimization r8, guide §2.2/§6):
    * redistribute a frame before EXPRESSION-HEAVY work when its source
    * yields fewer input splits than the session has cores — the
    * single-small-parquet shape of local runs, where a regex- or
    * decimal-bound operator otherwise executes on one core while 31
    * idle (measured: q_field_type 0.87s in ONE task). At deployment
    * scale the split count exceeds the core count and this is the
    * identity — no shuffle is added (the file-count check
    * short-circuits before any size lookup, so many-file tables pay
    * nothing). The repartition only moves the corpus once and never
    * changes row content. Pass `keys` (a high-cardinality column) to
    * hash-partition instead of round-robin: round-robin pays a local
    * sort of its input first (spark.sql.execution.sortBeforeRepartition,
    * guide §2.5) which can eat the win on wide rows. */
  private def spread(df: DataFrame, keys: String*): DataFrame = {
    val sess = df.sparkSession
    val cores = sess.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.length >= cores) df
    else {
      // the parsed value: the raw conf string may carry a size suffix
      val maxSplit = sess.sessionState.conf.filesMaxPartitionBytes
      val hconf = sess.sessionState.newHadoopConf()
      val splits = files.foldLeft(0L) { (acc, f) =>
        val p = new org.apache.hadoop.fs.Path(f)
        val len = try p.getFileSystem(hconf).getFileStatus(p).getLen
          catch { case _: Exception => 0L }
        acc + math.max(1L, (len + maxSplit - 1) / maxSplit)
      }
      if (splits >= math.max(2, cores / 2)) df
      else if (keys.nonEmpty) df.repartition(cores, keys.map(col): _*)
      else df.repartition(cores)
    }
  }

  /** Per-JVM NDJSON schema pin: the first read infers (a FULL extra
    * pass over the file — for the gzip'd gdc corpus a whole
    * single-threaded decompress+parse), later reads use the pinned
    * schema via [[sources.Sources.ndjsonWithSchema]] — the engine's
    * own production path (YAML `schema:`, r6 ask #7). Metadata only;
    * every pass still computes its rows from the source bytes. */
  private val ndjsonSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def ndjsonPinned(s: SparkSession, path: String): DataFrame = {
    val schema = ndjsonSchemaCache.computeIfAbsent(path,
      p => sources.Sources.ndjson(s, p).schema)
    sources.Sources.ndjsonWithSchema(schema)(s, path)
  }

  /** The reference's public gdc test corpus (read-only) — used by the
    * non-toy graph-emission query; both the Spark reader and the DuckDB
    * oracle parse the same raw bytes. */
  private[graft] val gdcDir = "/root/reference/test/resources"

  /** documents + planted near-dups (every 25th doc re-appended with a
    * ' zz' suffix) — the shared corpus of the dedup queries, mirrored
    * by the oracle's `aug` CTE. */
  private def augDocs(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select("doc_id", "text")
    docs.unionAll(docs.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text")))
  }

  private def rmTree(path: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(path)) {
      val w = java.nio.file.Files.walk(path)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.delete(p); () })
      finally w.close()
    }

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Per-corpus, per-JVM scratch dir under java.io.tmpdir for the
    * queries that need real filesystem fixtures (stream source dirs,
    * snapshot roots). Per-corpus so different sf dirs don't collide;
    * per-pid so two concurrent verify/bench JVMs don't clobber each
    * other. Cleanup is two-sided (ADVICE r5: the pid suffix alone made
    * "no /tmp accumulation" hold only within one JVM): a shutdown hook
    * removes THIS JVM's dir, and stale same-prefix siblings whose JVM
    * is no longer alive are swept on first use. */
  private def tmpWorkDir(prefix: String, d: String): String = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val mine = s"${prefix}_${java.lang.Integer.toHexString(d.hashCode)}_" +
      ProcessHandle.current().pid()
    val ls = java.nio.file.Files.list(tmp)
    try ls.forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith(prefix + "_") && n != mine) {
        val pid = n.substring(n.lastIndexOf('_') + 1)
        val alive = pid.nonEmpty && pid.forall(_.isDigit) && {
          val h = ProcessHandle.of(pid.toLong)
          h.isPresent && h.get.isAlive
        }
        // a concurrent live JVM keeps its dir; anything else is debris
        if (!alive) try rmTree(p) catch { case _: java.io.IOException => () }
      }
    } finally ls.close()
    val dir = tmp.resolve(mine)
    if (cleanupRegistered.add(dir.toString))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try rmTree(dir) catch { case _: Throwable => () }))
    dir.toString
  }

  /** The two-snapshot fixture of `v_incremental`, `v_schema_evolve`,
    * `v_drift_incr` and `v_profile_incr`: the sorted orgs split in half,
    * snapshot 1 holds the first half, snapshot 2 appends the rest and
    * carries the first half forward. Each era's partitions land the
    * tables `tables(snap, rows)` builds from that era's `files` rows,
    * which carry their org in `__org`, through the one-job bulk ingest
    * (a per-partition loop is O(partitions) driver-sequential Spark
    * jobs). Read-only once committed, so it is built once per JVM (the
    * marker) and every pass re-runs its reads, merges and certifying
    * requires against it. Returns the table and the (history, appended)
    * org split, read back from the committed snapshots. */
  private def twoSnapshotFixture(s: SparkSession, d: String, prefix: String)(
      tables: (Long, DataFrame) => Map[String, DataFrame])
      : (graft.io.IceLite, (Seq[String], Seq[String])) = {
    val root = tmpWorkDir(prefix, d)
    val marker = java.nio.file.Paths.get(root, "_FIXTURE_READY")
    val ice = new graft.io.IceLite(root)
    if (!java.nio.file.Files.exists(marker)) {
      rmTree(java.nio.file.Paths.get(root))
      val files = FilesTable.files(s, d).cache()
      try {
        val orgCol = Verdicts.org(col("repo"))
        val orgs = files.select(orgCol.as("o")).distinct()
          .collect().map(_.getString(0)).sorted.toSeq
        val (histOrgs, newOrgs) = orgs.splitAt(math.max(1, orgs.length / 2))
        require(newOrgs.nonEmpty, "corpus too small to split into an append")
        val fo = files.withColumn("__org", orgCol)
        def ingest(snap: Long, sel: Seq[String]): Unit = {
          ice.ingestPartitionedTables(s, snap, "__org",
            tables(snap, fo.filter(col("__org").isin(sel: _*))))
          ()
        }
        ingest(1L, histOrgs)
        ice.commitSnapshot(1L, histOrgs)
        ingest(2L, newOrgs)
        histOrgs.foreach(o => ice.carryForwardPartition(2L, o, 1L))
        ice.commitSnapshot(2L, orgs)
        java.nio.file.Files.writeString(marker, "")
      } finally { files.unpersist(); () }
    }
    val histOrgs = ice.snapshotParts(1L)
    (ice, (histOrgs, ice.snapshotParts(2L).diff(histOrgs)))
  }

  private def listParquet(dir: java.nio.file.Path): Set[java.nio.file.Path] = {
    val ls = java.nio.file.Files.list(dir)
    try ls.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSet
    finally ls.close()
  }

  /** Stamp every *.parquet directly under `dir` with DISTINCT ascending
    * mtimes in filename order. FileStreamSource admits files
    * oldest-first, so this makes micro-batch GROUPING deterministic
    * across drains and replays (equal mtimes would tie-break
    * arbitrarily). Returns the stamped files. */
  private def stampAscendingMtimes(dir: java.nio.file.Path,
      baseMillis: Long): Set[java.nio.file.Path] = {
    val parts = listParquet(dir)
    parts.toSeq.sortBy(_.getFileName.toString).zipWithIndex.foreach {
      case (p, i) => java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(baseMillis + i * 10000L))
    }
    parts
  }

  /** A new session on the caller's SparkContext with
    * spark.sql.shuffle.partitions = 4, for the stateful stream queries:
    * the state store creates AND commits one partition per shuffle
    * partition per micro-batch, so a small-keyspace stateful query at
    * the session default of 32 pays 32 state commits per batch for a
    * handful of keys. Real deployments size state partitions to the
    * keyspace; this is that knob. Setting it on a session of its own
    * leaves the caller's conf untouched, which every other thread on
    * the caller's session would otherwise see while the stream runs. A
    * memory sink registers its view in the session that started the
    * stream, so the sink is read through this one too. */
  private def stateSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss
  }

  /** MinHash-LSH candidates verified at jaccard >= 0.8 over [[augDocs]].
    * r8: the shingle table feeds the signature path AND both sides of
    * the verification join, and the candidate table is consumed twice
    * by verifyPairs — materialize each once (localCheckpoint, the
    * self-cleaning persist) instead of recomputing the tokenize+hash
    * subtree per consumer, exactly the sharing Dedup.pipeline documents
    * as the production shape. [[spread]] parallelizes the shingle
    * computation when the corpus arrives as one small split. */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.withWordShingles(spread(augDocs(s, d)), "text")
      .select(col("doc_id"), col("shingles"))
      .localCheckpoint()
    val cand = Dedup.lshCandidatePairs(Dedup.withMinhashSignature(sh), "doc_id")
      .localCheckpoint()
    Dedup.verifyPairs(sh, cand, 0.8)
  }

  /** Flagship: full verdict grid of the validation engine on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Verdicts.compute(spark,
      FilesTable.files(spark, "/root/testdata/sf0.001"), FileRules.rowRules)

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    // ---- validation core (north rule) over the derived files table ----
    "v_violations" -> ((s, d) =>
      Violations.extract(FilesTable.files(s, d), FileRules.rowRules)),
    "v_verdicts" -> ((s, d) =>
      Verdicts.compute(s, FilesTable.files(s, d), FileRules.rowRules)),
    "v_unique_dups" -> ((s, d) =>
      Uniqueness.duplicates(FilesTable.files(s, d), FileRules.unique.columns)),
    "v_unique_bucketed" -> ((s, d) => {
      // exchange-FREE uniqueness — the standing-table layout at 100 TB:
      // the corpus persists once as a Spark bucketed table on the
      // uniqueness key (shuffle paid at ingest), then the duplicate
      // check reads pre-clustered buckets and must plan with ZERO
      // Exchange (the require below reads the AQE-final physical plan),
      // hash-matching the plain groupBy oracle.
      // r8: a STANDING table is exactly what this certifies — the
      // shuffle is paid once at ingest, every later check is
      // exchange-free. Persist the bucketed layout once per JVM
      // (marker + catalog probe; the table name is corpus-keyed so a
      // JVM can serve several sf dirs) and run the exchange-free check
      // + plan certification every pass (VERDICT r7 #8).
      val dir = tmpWorkDir("graft_bucketed_tbl", d)
      val tbl =
        s"files_bucketed_unique_${java.lang.Integer.toHexString(d.hashCode)}"
      val bmarker = java.nio.file.Paths.get(dir, "_FIXTURE_READY")
      val dup =
        if (java.nio.file.Files.exists(bmarker) && s.catalog.tableExists(tbl))
          graft.validate.Uniqueness.duplicates(s.table(tbl),
            FileRules.unique.columns)
        else {
          rmTree(java.nio.file.Paths.get(dir))
          val dd = graft.validate.Uniqueness.duplicatesBucketed(s,
            FilesTable.files(s, d), FileRules.unique.columns, 16, tbl, dir)
          java.nio.file.Files.writeString(bmarker, "")
          dd
        }
      // the INITIAL adaptive plan is the right witness: AQE only ever
      // REMOVES exchanges at runtime, never adds one absent here (and
      // dup.count() would build its own QueryExecution, settling
      // nothing on this frame)
      val plan = dup.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"bucketed uniqueness planned a shuffle:\n${plan.take(800)}")
      dup
    }),
    "v_ref_orphans" -> ((s, d) =>
      Referential.orphans(FilesTable.files(s, d), FilesTable.repoManifest(s, d),
        "repo", "repo")),
    "v_profile" -> ((s, d) =>
      Profile.columns(FilesTable.files(s, d), profiledCols, exact = true)),
    "v_drift_ks" -> ((s, d) => {
      val f = FilesTable.files(s, d)
      DriftCheck.ks(f, length(col("content")), col("doc_id") % 2 === 0,
        FileRules.drift.bucketWidth)
    }),
    "v_drift_psi" -> ((s, d) => {
      val f = FilesTable.files(s, d)
      DriftCheck.psi(f, length(col("content")), col("doc_id") % 2 === 0,
        FileRules.drift.bucketWidth)
    }),
    "v_stream_violations" -> ((s, d) => {
      // the SAME compiled rule predicates run incrementally under
      // readStream (Violations.extract is a stateless narrow
      // projection, so the batch plan is reused verbatim):
      // Trigger.AvailableNow drains the source in several micro-batches
      // (maxFilesPerTrigger=4) and stops; the streamed violation set
      // must hash-match the one-shot batch oracle exactly.
      // per-corpus per-JVM scratch (overwritten within a JVM, shutdown
      // hook + stale-sibling sweep across JVMs — see tmpWorkDir)
      val dir = tmpWorkDir("graft_stream_src", d)
      FilesTable.files(s, d).write.mode("overwrite").parquet(dir)
      val schema = s.read.parquet(dir).schema
      val stream = graft.streaming.StreamValidate.violationStream(
        s, dir, schema, FileRules.rowRules, maxFilesPerTrigger = Some(4))
      val qname = "v_stream_violations_sink"
      s.catalog.dropTempView(qname) // drop the previous call's sink table
      val q = graft.streaming.StreamValidate.toMemorySink(stream, qname, "append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(qname)
    }),
    "v_stream_resume" -> ((s, d) => {
      // north_star resumability, STREAMING face (VERDICT r5 ask #7):
      // the checkpointed violation stream drains HALF the corpus and
      // stops; a crashed task's uncommitted sink file is injected (data
      // on disk, absent from the sink's _spark_metadata log — exactly
      // the state a kill mid-micro-batch leaves); the rest of the
      // corpus arrives and the query RESUMES from the same checkpoint.
      // The log-visible sink must hash-equal the one-shot batch oracle:
      // exactly-once across restart, orphan writes invisible. The
      // require()s certify the resume did NOT reprocess phase-1 files.
      import org.apache.spark.sql.streaming.Trigger
      val base = tmpWorkDir("graft_sresume", d)
      rmTree(java.nio.file.Paths.get(base)) // resume must use THIS run's ckpt
      val src = s"$base/src"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
      val files = FilesTable.files(s, d)
      files.filter(col("doc_id") % 2 === 0).repartition(4)
        .write.mode("overwrite").parquet(src)
      val schema = s.read.parquet(src).schema
      def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
        val stream = graft.streaming.StreamValidate.violationStream(
          s, src, schema, FileRules.rowRules, maxFilesPerTrigger = Some(2))
        val q = stream.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(); q
      }
      drain()
      val committed = s.read.parquet(sink).count()
      require(committed > 0, "phase 1 committed no violations")
      // crash injection: a valid data file the log never committed —
      // if the sink read ignored the log these rows would double-count
      // and the oracle hash would go red
      val sinkPath = java.nio.file.Paths.get(sink)
      val firstPart = {
        val ls = java.nio.file.Files.list(sinkPath)
        try ls.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally ls.close()
      }
      java.nio.file.Files.copy(firstPart,
        sinkPath.resolve("part-99999-orphan-of-crashed-task.snappy.parquet"))
      // phase 2: the other half arrives; resume from the same checkpoint
      files.filter(col("doc_id") % 2 =!= 0).repartition(4)
        .write.mode("append").parquet(src)
      val q2 = drain()
      val inc = q2.recentProgress.map(_.numInputRows).sum
      val phase2Rows = files.filter(col("doc_id") % 2 =!= 0).count()
      require(inc == phase2Rows,
        s"resume reprocessed drained files: saw $inc source rows, expected $phase2Rows")
      s.read.parquet(sink)
    }),
    "v_stream_ice" -> ((s, d) => {
      // streaming commits INTO the snapshot table — the engine's two
      // resumability stories unified: the streaming checkpoint decides
      // what each micro-batch contains, the IceLite lineage decides
      // whether it already landed. The corpus drains in micro-batches,
      // each committed as a partition keyed by batch id; then the WHOLE
      // stream replays under a fresh checkpoint (the worst-case
      // at-least-once storm: every batch re-delivers with the same
      // ids) and every replayed batch must be skipped by its lineage
      // record — certified by the untouched-mtimes require, and by the
      // oracle hash: one double-landed batch would double rows.
      import org.apache.spark.sql.streaming.Trigger
      val base = tmpWorkDir("graft_stream_ice", d)
      val src = s"$base/src"
      val srcP = java.nio.file.Paths.get(src)
      val marker = srcP.resolve("_FIXTURE_READY")
      if (!java.nio.file.Files.exists(marker)) {
        rmTree(srcP)
        FilesTable.files(s, d).repartition(8).write.mode("overwrite").parquet(src)
        // deterministic admission order -> the fresh-checkpoint replay
        // regroups the IDENTICAL batches (see stampAscendingMtimes)
        stampAscendingMtimes(srcP, System.currentTimeMillis())
        java.nio.file.Files.createFile(marker)
      }
      val root = s"$base/ice"
      rmTree(java.nio.file.Paths.get(root)) // exactly-once is per-run state
      val ice = new graft.io.IceLite(root)
      val snap = ice.nextSnapshotId
      val schema = s.read.parquet(src).schema
      def drain(ckpt: String): Unit = {
        val stream = graft.streaming.StreamValidate.violationStream(
          s, src, schema, FileRules.rowRules, maxFilesPerTrigger = Some(3))
        val q = graft.streaming.StreamValidate
          .toIceLite(stream, ice, snap, "violations")
          .option("checkpointLocation", s"$base/$ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      rmTree(java.nio.file.Paths.get(s"$base/ck1"))
      rmTree(java.nio.file.Paths.get(s"$base/ck2"))
      drain("ck1")
      val landed = ice.completedParts(snap)
      require(landed.size > 1, s"expected several micro-batches, got $landed")
      val lst = java.nio.file.Files.list(ice.lineageDir(snap))
      val mtimes = try lst.iterator().asScala.map(p =>
        p.getFileName.toString -> java.nio.file.Files.getLastModifiedTime(p))
        .toMap
        finally lst.close()
      drain("ck2") // full at-least-once replay: fresh checkpoint, same ids
      require(ice.completedParts(snap) == landed,
        "replay landed new partitions instead of being skipped")
      mtimes.foreach { case (f, t0) =>
        val t1 = java.nio.file.Files.getLastModifiedTime(
          ice.lineageDir(snap).resolve(f))
        require(t1 == t0, s"replay recommitted already-landed batch $f")
      }
      ice.commitSnapshot(snap, landed.toSeq.sorted)
      ice.readTable(s, snap, "violations").drop("part")
    }),
    "v_incremental" -> ((s, d) => {
      // incremental commit-stream consumption, oracle-gated: the input
      // table grows by an APPEND — history partitions are carried
      // forward as metadata only (carryForwardPartition: zero data IO,
      // the Iceberg append move), new partitions land normally. The
      // incremental pass validates ONLY the appended partitions
      // (readTableAppended; the inputFiles require certifies no history
      // file is touched), and its violations unioned with the
      // already-committed history violations must hash-equal the batch
      // oracle over the FULL corpus: incremental == full recompute.
      val (ice, (_, newOrgs)) = twoSnapshotFixture(s, d, "graft_incr")(
        (_, rows) => Map("files" -> rows))
      // history's violations: committed state in production (the
      // verdict store of snapshot 1); derived from snapshot 1's READ
      // here so the whole chain goes through the table layer
      val v1 = Violations.extract(
        ice.readTable(s, 1L, "files"), FileRules.rowRules)
      val diff = ice.readTableAppended(s, 1L, 2L, "files")
      // compare against the ENCODED data dirs (partDataDir owns the
      // escaping) — a raw-name contains() would spuriously fail on
      // orgs with IceLite's escape characters
      val newDirs = newOrgs.map(o => ice.partDataDir(2L, "files", o))
      require(diff.inputFiles.map(f => new java.net.URI(f).getPath)
        .forall(p => newDirs.exists(dir => p.startsWith(s"$dir/"))),
        "incremental read touched history files")
      v1.unionByName(Violations.extract(diff, FileRules.rowRules))
    }),
    "v_stream_totals" -> ((s, d) => {
      // custom streaming state via mapGroupsWithState — the escape
      // hatch when the running metric isn't a built-in aggregate (the
      // state row carries BOTH the cumulative total and the per-batch
      // increment). The violation stream drains in several
      // micro-batches; the memory sink (update mode) accumulates one
      // update row per (rule, batch); the FINAL state per rule — the
      // max of a monotone total — must equal the batch oracle's
      // GROUP BY count, and the increments must sum to it (certified
      // by the require, not just the final snapshot).
      import org.apache.spark.sql.streaming.Trigger
      val dir = tmpWorkDir("graft_stream_tot", d)
      val marker = java.nio.file.Paths.get(dir).resolve("_FIXTURE_READY")
      if (!java.nio.file.Files.exists(marker)) {
        rmTree(java.nio.file.Paths.get(dir))
        FilesTable.files(s, d).write.mode("overwrite").parquet(dir)
        java.nio.file.Files.createFile(marker)
      }
      val schema = s.read.parquet(dir).schema
      // a handful of rule keys: size the state store to the keyspace
      // (32 default partitions = 32 state commits per batch for ~5 keys)
      val qname = "v_stream_totals_sink"
      val ss = stateSession(s)
      val stream = graft.streaming.StreamValidate.violationStream(
        ss, dir, schema, FileRules.rowRules, maxFilesPerTrigger = Some(4))
      val totals = graft.streaming.StreamValidate.statefulRuleTotals(stream)
      totals.writeStream.format("memory").queryName(qname)
        .outputMode("update")
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      val sink = ss.table(qname)
      val bad = sink.groupBy(col("rule_id"))
        .agg(max(col("total")).as("final_total"),
          sum(col("batch_inc")).as("inc_sum"))
        .filter(col("final_total") =!= col("inc_sum")).count()
      require(bad == 0,
        s"$bad rules' batch increments do not sum to their final state")
      sink.groupBy(col("rule_id")).agg(max(col("total")).as("total"))
    }),
    "v_stream_window" -> ((s, d) => {
      // watermarked event-time windowed aggregation, the STREAMING face
      // of q_window_agg, in APPEND mode — the strict semantics where a
      // window row is emitted exactly once, when the watermark passes
      // its end (state is bounded by the watermark horizon; this is the
      // 100 TB shape of continuous event monitoring). The corpus drains
      // in several micro-batches (maxFilesPerTrigger), then ONE
      // far-future sentinel event in a file with a strictly later
      // mtime (FileStreamSource drains oldest-first) advances the
      // watermark past every real window; the post-sentinel no-data
      // flush batch (SPARK-24156) emits them. The sentinel's own window
      // is never finalized (the watermark can't pass it), so the
      // emitted set must hash-equal the batch oracle over the real rows
      // — no filtering, no complete-mode state crutch.
      import org.apache.spark.sql.streaming.Trigger
      val dir = tmpWorkDir("graft_stream_win", d)
      val dp = java.nio.file.Paths.get(dir)
      // the fixture (corpus + sentinel, mtime-ordered) is deterministic
      // per corpus dir, so later calls in the same JVM (bench passes
      // 2..n) reuse it and time the STREAM, not the fixture write; the
      // marker is written only after the mtime stamps, so a crashed
      // half-built dir is rebuilt, not trusted
      val marker = dp.resolve("_FIXTURE_READY")
      if (!java.nio.file.Files.exists(marker)) {
        rmTree(dp)
        // the parquet ts is TIMESTAMP_NTZ; watermarks are defined on
        // instants (TIMESTAMP) — cast on write, cast the window bounds
        // back after the agg (identity under the session's UTC timezone,
        // which GraftSession pins for exactly this oracle parity)
        val ev = t(s, d, "events").select(col("ts").cast("timestamp").as("ts"),
          col("event_type"), col("value"))
        // files must arrive in EVENT-TIME order or the watermark drops
        // later files' rows as late (the drain is several micro-batches,
        // and the watermark advances batch-over-batch): range-partition on
        // ts — each part file covers a contiguous, non-overlapping time
        // range, part-NNNNN in range order — and stamp ascending mtimes so
        // FileStreamSource (oldest-first) replays the stream in order.
        // This is the realistic shape: a continuous source lands files in
        // arrival order.
        ev.repartitionByRange(8, col("ts")).write.mode("overwrite").parquet(dir)
        val base = System.currentTimeMillis()
        val dataParts = stampAscendingMtimes(dp, base)
        ev.agg(max(col("ts")).as("ts"))
          .select((col("ts") + expr("INTERVAL 7 DAYS")).as("ts"),
            lit("___sentinel___").as("event_type"), lit(0.0).as("value"))
          .coalesce(1).write.mode("append").parquet(dir)
        // the sentinel must be the LAST file the source picks up: stamp it
        // past the whole ascending data sequence
        (listParquet(dp) -- dataParts).foreach(p =>
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(base + 1000 * 10000L)))
        java.nio.file.Files.createFile(marker)
      }
      val schema = s.read.parquet(dir).schema
      // windowed-state sizing: a few thousand (window, type) keys —
      // 4 state partitions, not the batch default of 32 (each is a
      // per-micro-batch state-store commit)
      val qname = "v_stream_window_sink"
      val ss = stateSession(s)
      val stream = graft.streaming.StreamValidate.windowedEventAgg(
        ss.readStream.schema(schema).option("maxFilesPerTrigger", "3").parquet(dir),
        "1 hour", "1 hour", "10 minutes")
      graft.streaming.StreamValidate.toMemorySink(stream, qname, "append")
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      ss.table(qname)
        .select(col("w_start").cast("timestamp_ntz").as("w_start"),
          col("w_end").cast("timestamp_ntz").as("w_end"),
          col("event_type"), col("n"), col("value_sum"))
    }),
    "v_stream_dedup" -> ((s, d) => {
      // streaming exact dedup, oracle-gated (VERDICT r6 ask #3): the
      // corpus plus planted duplicates (every 5th doc re-landed under a
      // new id with identical text) drains in micro-batches through
      // dropDuplicatesWithinWatermark; duplicates always arrive in a
      // LATER batch than their originals (originals stamped with
      // earlier mtimes, batch size divides the original file count), so
      // first-wins is deterministic and the admitted set must
      // hash-equal the batch first-wins oracle — the reference's
      // `distinct` semantics (transform/distinct.go:24-62) with
      // watermark-bounded state instead of its unbounded badger KV.
      import org.apache.spark.sql.streaming.Trigger
      val dir = tmpWorkDir("graft_stream_dedup", d)
      val dp = java.nio.file.Paths.get(dir)
      val marker = dp.resolve("_FIXTURE_READY")
      if (!java.nio.file.Files.exists(marker)) {
        rmTree(dp)
        // one doc per DISTINCT text (min doc_id): larger corpora carry
        // natural duplicate texts (sf0.1: 8), and two same-text docs
        // landing in the same micro-batch would make the survivor
        // arbitrary — the planted dups below are the only duplicates,
        // and they always trail their originals by construction
        val docs = t(s, d, "documents").groupBy(col("text"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), col("text"))
          .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
        docs.repartition(4).write.mode("overwrite").parquet(dir)
        val base = System.currentTimeMillis()
        val origParts = stampAscendingMtimes(dp, base)
        docs.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000)
          .repartition(2).write.mode("append").parquet(dir)
        (listParquet(dp) -- origParts).toSeq.sortBy(_.getFileName.toString)
          .zipWithIndex.foreach { case (f, i) =>
            java.nio.file.Files.setLastModifiedTime(f,
              java.nio.file.attribute.FileTime.fromMillis(
                base + 1000 * 10000L + i * 10000L))
          }
        java.nio.file.Files.createFile(marker)
      }
      val schema = s.read.parquet(dir).schema
      val qname = "v_stream_dedup_sink"
      // ~500 digest keys: size the state store to the keyspace
      val ss = stateSession(s)
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2").parquet(dir)
      val deduped = graft.streaming.StreamValidate
        .streamingDedup(stream, "text", "ts")
      graft.streaming.StreamValidate
        .toMemorySink(deduped, qname, "append")
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      val uniq = t(s, d, "documents").groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"))
      val nDocs = uniq.count()
      val nIn = nDocs + uniq.filter(col("doc_id") % 5 === 0).count()
      val out = ss.table(qname)
      // the stream must actually have FACED duplicates and dropped them
      require(out.count() < nIn,
        s"dedup dropped nothing: $nIn rows in, ${out.count()} out")
      require(out.count() == nDocs,
        s"expected $nDocs survivors, got ${out.count()}")
      out.select(col("doc_id"), col("digest"))
    }),
    "v_stream_dedup_resume" -> ((s, d) => {
      // STATEFUL state-store recovery across restart, oracle-gated: the
      // original corpus drains through dropDuplicatesWithinWatermark
      // under a checkpoint and the query STOPS; the planted duplicates
      // then arrive and a NEW query resumes from the same checkpoint.
      // Every duplicate can only be dropped by the RESTORED state (its
      // original's digest was seen exclusively before the restart), so
      // the parquet sink hash-equaling the batch first-wins oracle
      // certifies the state store round-tripped the checkpoint — the
      // recovery story v_stream_resume certifies only for stateless
      // plans. The require certifies the resume read ONLY the new files.
      import org.apache.spark.sql.streaming.Trigger
      val base = tmpWorkDir("graft_sdedup_res", d)
      rmTree(java.nio.file.Paths.get(base)) // resume must use THIS run's state
      val src = s"$base/src"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
      val docs = t(s, d, "documents").groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("text"))
        .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
      docs.repartition(4).write.mode("overwrite").parquet(src)
      val schema = s.read.parquet(src).schema
      val ss = stateSession(s)
      def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
        val stream = ss.readStream.schema(schema)
          .option("maxFilesPerTrigger", "2").parquet(src)
        val q = graft.streaming.StreamValidate
          .streamingDedup(stream, "text", "ts")
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(); q
      }
      drain() // phase 1: originals only — state = their digests
      val dups = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
      dups.repartition(2).write.mode("append").parquet(src)
      val q2 = drain() // phase 2: resume; dups dropped via restored state
      val inc = q2.recentProgress.map(_.numInputRows).sum
      val nDups = dups.count()
      require(inc == nDups,
        s"resume reprocessed drained files: saw $inc rows, expected $nDups")
      val out = s.read.parquet(sink)
      require(out.count() == docs.count(),
        s"restored state failed to drop duplicates: ${out.count()} rows")
      out.select(col("doc_id"), col("digest"))
    }),
    "v_stream_late" -> ((s, d) => {
      // late-data watermark semantics, oracle-gated (VERDICT r6 ask
      // #4): files arrive event-time OUT OF ORDER — batch 0 (even
      // event_ids) spans the whole time range and advances the
      // watermark to max(even ts) - delay; batch 1 (odd event_ids)
      // then arrives with most of its rows BEHIND the watermark. Spark
      // must drop exactly the odd rows whose hour window is already
      // finalized (window end ≤ watermark) and merge the rest; the
      // DuckDB oracle computes the same admitted set from the arrival
      // rule, so the watermark's actual job — deterministic late-row
      // dropping — is what the hash certifies (v_stream_window's
      // in-order fixture never exercises it). The delay is 600999 ms,
      // NOT a round 10 minutes: watermark = max(even ts) - delay must
      // never land exactly on an hour boundary (where Spark's strict
      // vs the oracle's non-strict reading of "window still open"
      // could disagree), and second-granularity timestamps minus a
      // .999 s offset cannot hit one.
      import org.apache.spark.sql.streaming.Trigger
      val dir = tmpWorkDir("graft_stream_late", d)
      val dp = java.nio.file.Paths.get(dir)
      val marker = dp.resolve("_FIXTURE_READY")
      if (!java.nio.file.Files.exists(marker)) {
        rmTree(dp)
        val ev = t(s, d, "events").select(
          col("ts").cast("timestamp").as("ts"),
          col("event_type"), col("value"), col("event_id"))
        ev.filter(col("event_id") % 2 === 0).drop("event_id")
          .coalesce(1).write.mode("overwrite").parquet(dir)
        val base = System.currentTimeMillis()
        val f0 = stampAscendingMtimes(dp, base)
        // empty BRIDGE batch between the in-order and the late files:
        // since SPARK-40925 the late-event filter runs on the PREVIOUS
        // batch's watermark (eviction on the current one), so the
        // watermark advanced by batch 0 governs input filtering only
        // from batch 2 on — without the bridge, batch 1's late rows
        // are merged, not dropped (measured: 1000/1000 admitted)
        ev.filter(lit(false)).drop("event_id")
          .coalesce(1).write.mode("append").parquet(dir)
        val fb = listParquet(dp) -- f0
        fb.foreach(f => java.nio.file.Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(base + 50 * 10000L)))
        ev.filter(col("event_id") % 2 =!= 0).drop("event_id")
          .coalesce(1).write.mode("append").parquet(dir)
        val f1 = listParquet(dp) -- f0 -- fb
        f1.foreach(f => java.nio.file.Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(base + 100 * 10000L)))
        // sentinel far past everything: the post-sentinel no-data batch
        // (SPARK-24156) flushes every finalized real window; the
        // sentinel's own window is never watermark-finalized
        ev.agg(max(col("ts")).as("ts"))
          .select((col("ts") + expr("INTERVAL 7 DAYS")).as("ts"),
            lit("___sentinel___").as("event_type"), lit(0.0).as("value"))
          .coalesce(1).write.mode("append").parquet(dir)
        (listParquet(dp) -- f0 -- fb -- f1).foreach(f =>
          java.nio.file.Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime.fromMillis(base + 1000 * 10000L)))
        java.nio.file.Files.createFile(marker)
      }
      val schema = s.read.parquet(dir).schema
      val qname = "v_stream_late_sink"
      val ss = stateSession(s)
      val stream = graft.streaming.StreamValidate.windowedEventAgg(
        ss.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(dir),
        "1 hour", "1 hour", "600999 milliseconds")
      graft.streaming.StreamValidate
        .toMemorySink(stream, qname, "append")
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      val admitted = ss.table(qname).agg(
        sum(col("n")).cast(LongType)).collect()(0).getLong(0)
      val nAll = t(s, d, "events").count()
      val nEven = t(s, d, "events").filter(col("event_id") % 2 === 0).count()
      // lateness must actually have occurred (rows dropped), and the
      // in-order batch must be fully admitted — the two ways a broken
      // fixture could fake a green hash
      require(admitted < nAll,
        s"no late rows were dropped ($admitted of $nAll admitted)")
      require(admitted >= nEven,
        s"in-order rows went missing ($admitted admitted < $nEven even rows)")
      ss.table(qname)
        .select(col("w_start").cast("timestamp_ntz").as("w_start"),
          col("w_end").cast("timestamp_ntz").as("w_end"),
          col("event_type"), col("n"), col("value_sum"))
    }),
    "v_resume" -> ((s, d) => {
      // north_star resumability, oracle-gated: run the checkpointed
      // validation, CRASH after 2 committed partitions, resume, and
      // return the resumed snapshot's verdicts — which must equal the
      // one-shot oracle grid. The require()s certify the resume SKIPPED
      // completed work: exactly 2 lineage records exist before the
      // second run and their bytes' mtimes are untouched by it.
      // per-corpus per-JVM root, WIPED before each run: resume
      // semantics need a clean slate (leftover lineage would satisfy
      // completedParts); cross-JVM cleanup via tmpWorkDir
      val root: String = tmpWorkDir("graft_resume", d)
      rmTree(java.nio.file.Paths.get(root))
      // cached by the CALLER so the crash run and the resume share one
      // materialization (run() persists nothing itself);
      // unpersisted in finally — a require() failure must not leave the
      // whole corpus pinned for every subsequent query of the run
      val files = FilesTable.files(s, d).cache()
      val snap =
        try {
          try { CheckpointedValidation.run(s, files, FileRules.rowRules, root,
            crashAfter = Some(2)); () }
          catch { case _: CheckpointedValidation.SimulatedCrash => () }
          val ice = new graft.io.IceLite(root)
          val snap0 = ice.nextSnapshotId
          val done = ice.completedParts(snap0)
          require(done.size == 2,
            s"expected 2 committed partitions at the crash point, got ${done.size}")
          val lst = java.nio.file.Files.list(ice.lineageDir(snap0))
          val mtimes = try lst.toArray
            .map(_.asInstanceOf[java.nio.file.Path])
            .map(p => p.getFileName.toString ->
              java.nio.file.Files.getLastModifiedTime(p)).toMap
          finally lst.close()
          val resumed = CheckpointedValidation.run(s, files, FileRules.rowRules, root)
          require(resumed == snap0, s"resume must reuse snapshot $snap0, got $resumed")
          mtimes.foreach { case (f, t0) =>
            val t1 = java.nio.file.Files.getLastModifiedTime(
              ice.lineageDir(resumed).resolve(f))
            require(t1 == t0, s"resume recomputed already-committed partition $f")
          }
          resumed
        } finally files.unpersist()
      CheckpointedValidation.verdicts(s, root, snap)
    }),
    "v_compact" -> ((s, d) => {
      // copy-on-write compaction, oracle-gated: the engine's violation
      // rows are committed through IceLite as two partitions of FOUR
      // small files each (the debris shape incremental appends leave
      // behind — a single checkpointed run already coalesces, so the
      // debris is constructed deliberately), then compacted; the
      // COMPACTED snapshot's rows must hash-equal the one-shot batch
      // oracle. The require()s certify the rewrite actually packed
      // files down and that the logical diff across the compaction is
      // empty (bytes moved, content didn't). The single-file verdicts
      // table rides along untouched, exercising the kept-by-reference
      // read path on the same snapshot.
      val root = tmpWorkDir("graft_compact", d)
      rmTree(java.nio.file.Paths.get(root))
      val files = FilesTable.files(s, d)
      val viol = Violations.extract(files, FileRules.rowRules)
        .withColumn("b", pmod(hash(col("repo")), lit(2))).cache()
      val ice = new graft.io.IceLite(root)
      try {
        val snap = ice.nextSnapshotId
        // both buckets' row counts from one aggregate over the cached
        // violations; the two bucket commits are independent until
        // commitSnapshot, so they run concurrently
        val rows = viol.groupBy("b").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        graft.io.DriverFanOut(s, 16, Seq(0, 1)) { b =>
          val part = viol.filter(col("b") === b).drop("b")
          ice.commitPartition(snap, s"b$b", rows.getOrElse(b, 0L),
            Map("violations" -> part.repartition(4),
              "verdicts" -> Verdicts.compute(s,
                files.filter(pmod(hash(col("repo")), lit(2)) === b),
                FileRules.rowRules).drop("part").coalesce(1)))
        }
        ice.commitSnapshot(snap, Seq("b0", "b1"))
        val before = ice.readTable(s, snap, "violations").inputFiles.length
        val c = ice.compactSnapshot(s)
        val after = ice.readTable(s, c, "violations").inputFiles.length
        require(after < before,
          s"compaction did not reduce violations files: $before -> $after")
        require(ice.readTableAppended(s, snap, c, "violations").isEmpty,
          "compaction must not change logical content (non-empty diff)")
        require(ice.readTable(s, c, "verdicts").inputFiles
          .forall(_.contains(s"snap=$snap/")),
          "single-file verdicts must be kept by reference, not rewritten")
        ice.readTable(s, c, "violations").drop("part")
      } finally { viol.unpersist(); () }
    }),
    "v_point_lookup" -> ((s, d) => {
      // bucket partition transform (Iceberg's bucket()), oracle-gated:
      // the files table is ingested bucketed by `commit` — the column
      // footer min/max can NEVER prune (a uniform hash spans the whole
      // value space in every partition) — and three commits are probed
      // through readTablePoints. The require()s certify the scan
      // planned over only the probed buckets (inputFiles parent dirs),
      // i.e. point lookups are O(1) in metadata at any cardinality;
      // the probed rows hash-equal the full-scan oracle. One probe is
      // a planted duplicate's commit (doc_id 11), so the lookup also
      // witnesses multi-row hits. Parquet bloom filters are written on
      // `commit` for the in-bucket row-group pruning level.
      // r8: the bucketed table is read-only once committed — built once
      // per JVM (VERDICT r7 #8); the point probes and their plan-shape
      // requires run every pass.
      val root = tmpWorkDir("graft_bucket", d)
      val marker = java.nio.file.Paths.get(root, "_FIXTURE_READY")
      val ice = new graft.io.IceLite(root)
      if (!java.nio.file.Files.exists(marker)) {
        rmTree(java.nio.file.Paths.get(root))
        ice.setBucketSpec("files", "commit", 16)
        val files = FilesTable.files(s, d)
        ice.commitSnapshot(1L, ice.ingestBucketed(s, 1L, "files", files,
          bloomColumns = Seq("commit")))
        java.nio.file.Files.writeString(marker, "")
      }
      val parts = ice.snapshotParts(1L)
      // md5("c"+doc_id).take(12) — the corpus' commit derivation,
      // recomputed driver-side for the probe literals
      def commitOf(id: Long): String = {
        val dig = java.security.MessageDigest.getInstance("MD5")
          .digest(s"c$id".getBytes("UTF-8"))
        dig.map(b => f"$b%02x").mkString.take(12)
      }
      val probes = Seq(11L, 3L, 500L).map(commitOf)
      val pt = ice.readTablePoints(s, 1L, "files", probes)
      val spec = ice.bucketSpec("files").get
      val probedBuckets =
        probes.map(graft.io.IceLite.bucketOf(_, spec.buckets)).distinct
      val parents = pt.inputFiles
        .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
      require(parents.length <= probedBuckets.length,
        s"point lookup planned ${parents.length} partition dirs for " +
          s"${probedBuckets.length} probed buckets")
      require(parents.length < parts.length,
        "point lookup planned as many partitions as a full scan")
      pt.select("repo", "path", "commit", "lang", "content_sha256", "doc_id")
    }),
    "v_schema_evolve" -> ((s, d) => {
      // schema evolution, oracle-gated: history partitions commit
      // WITHOUT a `license` column, an append later introduces it; the
      // evolved read reconciles both eras under one schema — history
      // rows carry typed NULLs — and hash-equals the oracle computing
      // the same union in SQL. The per-partition schema ledger rides
      // the lineage records, so the read touches no extra metadata.
      val (ice, _) = twoSnapshotFixture(s, d, "graft_evolve") { (snap, rows) =>
        // era 2 adds a license column (deterministic by doc_id)
        val license = when(col("doc_id") % 4 === 0, "mit")
          .when(col("doc_id") % 4 === 1, "apache2")
          .when(col("doc_id") % 4 === 2, "gpl3")
          .otherwise("bsd").as("license")
        Map("files" -> rows.select(
          Seq("repo", "path", "commit", "lang", "content_sha256", "doc_id").map(col) ++
            (if (snap == 2L) Seq(license) else Nil) :+ col("__org"): _*))
      }
      val ev = ice.readTable(s, 2L, "files")
      require(ev.columns.contains("license"),
        "evolved read lost the appended column")
      ev.drop("part")
    }),
    "v_drift_incr" -> ((s, d) => {
      // incremental distribution drift, oracle-gated: every partition
      // commits a content-length histogram (`__hist`, a few rows) next
      // to its data; after an append the drift check PSI(history →
      // appended) merges only the committed histogram rows — the
      // inputFiles require certifies zero content rescans, so the
      // check is metadata-sized at any table size (the north-star
      // "distribution-drift in a single aggregation pass per
      // partition", made incremental). Hash-matches the full-corpus
      // oracle computing the same cohorts in SQL.
      val (ice, _) = twoSnapshotFixture(s, d, "graft_drift_incr")((_, rows) =>
        Map("files" -> rows, "__hist" -> graft.validate.IncrementalProfile.lengthHistogram(
          rows, length(col("content")), FileRules.drift.bucketWidth, groupBy = Some("__org"))))
      // history distribution: snapshot 1's histogram rows; appended
      // distribution: only the partitions NEW in snapshot 2
      val h0 = ice.readTable(s, 1L, "__hist")
      val h1 = ice.readTableAppended(s, 1L, 2L, "__hist")
      require((h0.inputFiles ++ h1.inputFiles).nonEmpty &&
        (h0.inputFiles ++ h1.inputFiles).forall(_.contains("/__hist/")),
        "drift check touched data files, not just histogram rows")
      DriftCheck.psiFromHists(
        graft.validate.IncrementalProfile.mergeHistograms(h0),
        graft.validate.IncrementalProfile.mergeHistograms(h1))
    }),
    "v_delete_rows" -> ((s, d) => {
      // copy-on-write row-level DELETE, oracle-gated — the QUARANTINE
      // move of a validated table: the corpus commits as doc_id RANGE
      // partitions, then one range's rows are purged. The stats-pruned
      // rewrite touches ONLY the partition holding that range (the
      // completedParts require: every other partition carries by
      // reference with zero data IO, still served from snapshot 1's
      // bytes per inputFiles), and the surviving rows hash-equal the
      // NOT BETWEEN oracle. NULL-predicate rows are kept (SQL DELETE
      // semantics; certified in IceLiteSpec).
      val width = 64L
      val root = tmpWorkDir("graft_delete", d)
      rmTree(java.nio.file.Paths.get(root))
      val ice = new graft.io.IceLite(root)
      // range-partitioned layout in ONE partitionBy job (the fixture
      // must scale like the engine: 79 per-partition filter scans of
      // the corpus at sf0.1 cost 17s; one job costs one scan)
      val parts = ice.ingestPartitionedTables(s, 1L, "pnum", Map("files" ->
        FilesTable.files(s, d)
          .withColumn("pnum", floor(col("doc_id") / width))))
      ice.commitSnapshot(1L, parts)
      val n = ice.deleteWhere(s, "files",
        col("doc_id").between(0L, width - 1),
        Seq(("doc_id", 0.0, (width - 1).toDouble)))
      require(ice.completedParts(n) == Set("0"),
        s"delete rewrote pruned partitions: ${ice.completedParts(n)}")
      val out = ice.readTable(s, n, "files")
      val newFiles = out.inputFiles.filter(_.contains(s"snap=$n"))
      require(newFiles.forall(_.contains("/part=0/")),
        "new-snapshot files outside the deleted range's partition")
      if (parts.length > 1)
        require(out.inputFiles.exists(_.contains("snap=1")),
          "carried partitions not served from their original bytes")
      out.select("repo", "path", "commit", "lang", "content_sha256",
        "doc_id")
    }),
    "v_upsert" -> ((s, d) => {
      // MERGE / upsert by key, oracle-gated: the corpus (bucketed by
      // `commit`, 64 buckets) takes an update set that REPLACES the
      // rows of a few commits (lang corrected to 'eo') and INSERTS two
      // brand-new rows. Every replaced commit is a PLANTED DUPLICATE
      // (doc_id ≡ 11 mod 1010 ⊂ the mod-101 dup cohort) — delete-
      // then-insert must drop BOTH copies and land exactly one update
      // row. Only the buckets the update keys hash into rewrite
      // (completedParts require);
      // everything else is served from snapshot 1's bytes
      // (inputFiles require). Result hash-equals the SQL
      // anti-join ∪ updates oracle.
      val root = tmpWorkDir("graft_upsert", d)
      rmTree(java.nio.file.Paths.get(root))
      val ice = new graft.io.IceLite(root)
      ice.setBucketSpec("files", "commit", 64)
      val cols = Seq("repo", "path", "commit", "lang", "content_sha256",
        "doc_id")
      val files = FilesTable.files(s, d).select(cols.map(col): _*)
      ice.commitSnapshot(1L,
        ice.ingestBucketed(s, 1L, "files", files))
      val upd = files.filter(col("doc_id") % 1010 === 11)
        .select(col("repo"), col("path"), col("commit"),
          lit("eo").as("lang"), col("content_sha256"), col("doc_id"))
        .dropDuplicates("doc_id")
      val news = s.range(2).select(
        lit("neworg/repo").as("repo"),
        concat(lit("src/new_"), col("id")).as("path"),
        substring(md5(concat(lit("n"), col("id").cast("string"))), 1, 12)
          .as("commit"),
        lit("en").as("lang"),
        sha2(concat(lit("new"), col("id").cast("string")), 256)
          .as("content_sha256"),
        (col("id") + 1000000L).as("doc_id"))
      val n = ice.mergeRows(s, "files", upd.unionByName(news))
      val spec = ice.bucketSpec("files").get
      val keyBuckets = upd.unionByName(news).select("commit").distinct()
        .collect().map(r =>
          s"bucket=${graft.io.IceLite.bucketOf(r.getString(0), spec.buckets)}")
        .toSet
      require(ice.completedParts(n) == keyBuckets,
        s"merge rewrote ${ice.completedParts(n)}, expected $keyBuckets")
      val out = ice.readTable(s, n, "files")
      require(out.inputFiles.exists(_.contains("snap=1/")),
        "untouched buckets were rewritten instead of carried")
      out.select(cols.map(col): _*)
    }),
    "v_profile_incr" -> ((s, d) => {
      // mergeable incremental profile, oracle-gated: every partition
      // commits a one-row `__profile` table next to its data (row
      // count, null count, min/max, an HLL sketch of `commit`); after
      // an append, the FULL-TABLE profile aggregates only those tiny
      // profile rows — the inputFiles require certifies ZERO data files
      // are rescanned, the aggregation is metadata-sized at any table
      // size. Exact-mergeable fields (counts, min/max) hash-match the
      // full-corpus oracle; the distinct-commit estimate merges via
      // hll_union_agg and is certified within 5% of the exact count
      // (approximate by design — DataSketches HLL, lgK 12).
      val (ice, _) = twoSnapshotFixture(s, d, "graft_profile_incr")((_, rows) =>
        Map("files" -> rows, "__profile" -> graft.validate.IncrementalProfile.partitionProfile(
          rows, nullCols = Seq("lang"), rangeCols = Seq("doc_id"),
          distinctCols = Seq("commit"), groupBy = Some("__org"))))
      val prof = ice.readTable(s, 2L, "__profile")
      require(prof.inputFiles.nonEmpty &&
        prof.inputFiles.forall(_.contains("/__profile/")),
        "profile merge touched data files, not just profile rows")
      val merged = graft.validate.IncrementalProfile
        .mergeProfiles(prof.drop("part")).cache()
      val est = merged.select("distinct_commit").collect()(0).getLong(0)
      val exact = FilesTable.files(s, d).select("commit").distinct().count()
      // gate at 3xRSE (5%, matching IncrementalProfileSpec): lgK-12 HLL
      // has ~1.6% RSE past the sparse regime, so the old 2% gate was
      // only ~1.2 sigma (ADVICE r7) — a corpus change could fail it
      // with the sketch behaving as designed
      require(math.abs(est - exact).toDouble / exact <= 0.05,
        s"merged HLL estimate $est drifted >5% from exact $exact")
      merged.select(col("n_rows").as("total_rows"), col("null_lang"),
        col("min_doc_id"), col("max_doc_id"))
    }),

    // ---- sources over raw fixture files (SURVEY.md §2.1) ----
    "q_table_src" -> ((s, _) =>
      // sep/comment/rowSkip/header/short-row-"" semantics of the
      // sequential reader (tabular_load.go:88-135)
      sources.Sources.table(s, s"$fixturesDir/table_src.tsv",
        sources.Sources.TableSpec(rowSkip = 1)).select("id", "name", "score")),
    "q_table_native" -> ((s, _) =>
      // the splittable native-CSV fast path (comment + header, nulls
      // for empty/missing fields)
      sources.Sources.tableNative(s, s"$fixturesDir/table_native.tsv")
        .select("id", "name", "score")),
    "q_ndjson_src" -> ((s, _) =>
      // NDJSON schema inference: optional fields null-fill
      sources.Sources.ndjson(s, s"$fixturesDir/ndjson_src.ndjson")
        .select("id", "name", "opt", "val")),
    "q_glob_src" -> ((s, _) =>
      // glob + storeFilename over heterogeneous files, on the
      // single-scan fast path (input_file_name, schema union native)
      sources.Sources.glob(s, s"$fixturesDir/glob/*.ndjson",
        sources.Sources.ndjson(_, _), storeFilename = Some("src_file"),
        fileSourceInner = true)
        .select("id", "tag", "w", "extra", "src_file")),

    "q_sqlite_src" -> ((s, _) =>
      // pure-Scala sqlite b-tree reader; all values nullable strings
      sources.SqliteSource.table(s, s"$fixturesDir/fixture.sqlite", "tiny")
        .select("k", "v")),
    "q_sqlite_agg" -> ((s, _) =>
      // the same reader over the 3k-row table, reduced to an aggregate
      // the oracle derived INDEPENDENTLY via CPython's sqlite3 module
      sources.SqliteSource.table(s, s"$fixturesDir/fixture.sqlite", "genes")
        .agg(count(lit(1)).as("n"),
          sum(col("id").cast(LongType)).as("id_sum"))),
    "q_sqldump_src" -> ((s, _) =>
      // statement splitter + CREATE columns + multi-row INSERT + ''
      // escape handling
      sources.SqlDump.load(s, s"$fixturesDir/dump.sql", Seq("mutations"))
        .select(col("table"),
          element_at(col("data"), "id").as("mid"),
          element_at(col("data"), "protein_id").as("pid"),
          element_at(col("data"), "cancer_type").as("cancer"))),
    "q_xml_src" -> ((s, _) =>
      // level-1 split: one row per <item>, wrapped by its element name
      // (xml_step.go buffers the StartElement too); attributes as
      // -name, repeated siblings as arrays
      sources.XmlSource.xml(s, s"$fixturesDir/items.xml", 1)
        .select(col("item.`-id`").as("id"), col("item.name").as("name"),
          col("item.price").as("price"),
          array_join(col("item.tag"), ",").as("tags"))),
    "q_avro_src" -> ((s, _) =>
      // OCF decode with goavro union wrapping: [null,T] fields surface
      // as {"<type>": value} structs — selecting through the wrapper
      // certifies the shape the reference's playbooks unwrap
      sources.Sources.avro(s, s"$fixturesDir/sample.avro")
        .select(col("id"), col("name.string").as("name_s"),
          col("score.double").as("score_d"), col("addr.Addr.city").as("city"))),

    // ---- sifter operator inventory (SURVEY.md §2.2-2.4) ----
    "q_project" -> ((s, d) => {
      val n = t(s, d, "nation")
      val p = RowOps.project(n,
        "label" -> concat(lit("nation:"), col("n_name")),
        "descr" -> format_string("key=%d region=%d", col("n_nationkey"), col("n_regionkey")))
      RowOps.rename(p, "n_nationkey" -> "id").select("id", "label", "descr")
    }),
    "q_filter" -> ((s, d) =>
      RowOps.keep(t(s, d, "events"),
        col("event_type") === "purchase" && RowOps.hasValue(col("props")) &&
          col("user_id") =!= 0)
        .select("event_id", "user_id", "event_type")),
    "q_clean" -> ((s, d) =>
      RowOps.clean(t(s, d, "events"), Seq("event_id", "event_type", "props"),
        removeEmpty = true)),
    "q_field_type" -> ((s, d) => {
      // spread: the regex + try_cast pass is compute-bound and the
      // events table arrives as one split locally (measured: 0.9s in
      // ONE task) — see the spread scaladoc for the at-scale identity
      val e = spread(t(s, d, "events"))
        .withColumn("k_num", regexp_extract(col("props"), "\"k\": ([0-9]+)", 1))
        .withColumn("bad_cast", col("event_type"))
      RowOps.fieldType(e, "k_num" -> LongType, "bad_cast" -> LongType)
        .select("event_id", "k_num", "bad_cast")
    }),
    "q_field_parse" -> ((s, d) => {
      val e = spread(t(s, d, "events")).withColumn("kv", // regex-bound — see q_field_type
        concat(lit("type="), col("event_type"), lit(";user="), col("user_id").cast("string")))
      RowOps.fieldParse(e, "kv", "kvmap")
        .select(col("event_id"),
          element_at(col("kvmap"), "user").as("user_str"),
          element_at(col("kvmap"), "type").as("type_str"))
    }),
    "q_split" -> ((s, d) => {
      val doc = RowOps.splitField(t(s, d, "documents").withColumn("toks", col("text")), "toks", " ")
      doc.select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        element_at(col("toks"), 1).as("first_tok"),
        element_at(col("toks"), -1).as("last_tok"))
    }),
    "q_regex_replace" -> ((s, d) =>
      RowOps.regexReplace(t(s, d, "documents"), "text", "data", "DATA", Some("rep"))
        .select(col("doc_id"), substring(col("rep"), 1, 80).as("head"))),
    "q_hash" -> ((s, d) => {
      val doc = t(s, d, "documents")
      RowOps.hashField(
        RowOps.hashField(doc, "md5_hex", col("text"), "md5"),
        "sha256_hex", col("text"), "sha256")
        .select("doc_id", "md5_hex", "sha256_hex")
    }),
    // ---- PyLite code blocks: the reference's map/filter/flatmap/reduce
    // gpython surface (mapping.go:52-57, filter.go:30-47,
    // flat_map.go:51-66, reduce.go:54-80) on the from-scratch
    // interpreter, oracle-checked against equivalent SQL ----
    "q_map_py" -> ((s, d) =>
      graft.pylite.PyOps.mapPy(
        t(s, d, "documents").select("doc_id", "lang", "n_chars"),
        """def enrich(x):
          |  x["lang_up"] = x["lang"].upper()
          |  x["chars2"] = x["n_chars"] * 2 + 1
          |  x["bucket"] = "long" if x["n_chars"] > 500 else "short"
          |  return x
          |""".stripMargin, "enrich")),
    "q_filter_py" -> ((s, d) =>
      graft.pylite.PyOps.filterPy(
        t(s, d, "documents").select("doc_id", "lang", "n_chars"),
        """def keep(row):
          |  return row["lang"] == "en" and row["n_chars"] % 3 != 0
          |""".stripMargin, "keep")),
    "q_flatmap_py" -> ((s, d) =>
      graft.pylite.PyOps.flatMapPy(
        t(s, d, "documents").select("doc_id", "text"),
        """def toks(row):
          |  out = []
          |  ws = row["text"].split()
          |  n = min(3, len(ws))
          |  for i in range(n):
          |    out.append({"doc_id": row["doc_id"], "pos": i, "tok": ws[i]})
          |  return out
          |""".stripMargin, "toks")),
    "q_reduce_py" -> ((s, d) =>
      graft.pylite.PyOps.reducePy(
        t(s, d, "documents").select("lang", "n_chars"),
        "lang",
        """def merge(x, y):
          |  y["lang"] = x["lang"]
          |  y["n"] = y["n"] + 1
          |  y["chars"] = y["chars"] + x["n_chars"]
          |  return y
          |""".stripMargin, "merge",
        initJson = Some("""{"n": 0, "chars": 0}"""))),
    "q_lookup_copy" -> ((s, d) =>
      RowOps.lookupCopy(t(s, d, "nation"), t(s, d, "region"),
        col("n_regionkey"), col("r_regionkey"), "region_name" -> "r_name")
        .select("n_nationkey", "n_name", "n_regionkey", "region_name")),
    "q_lookup_replace" -> ((s, d) => {
      val lk = s.createDataFrame(Seq(("purchase", "BUY"), ("signup", "NEW")))
        .toDF("k", "v")
      RowOps.lookupReplace(t(s, d, "events"), lk, "event_type", "k", "v")
        .select("event_id", "event_type")
    }),
    "q_lookup_replace_array" -> ((s, d) => {
      val lk = s.createDataFrame(Seq(("data", "DATA"), ("the", "THE"))).toDF("k", "v")
      val doc = t(s, d, "documents").withColumn("toks", split(col("text"), " "))
      RowOps.lookupReplaceArray(doc, lk, "toks", "k", "v")
        .select(col("doc_id"), array_join(col("toks"), " ").as("replaced"))
    }),
    "q_lookup_replace_mapkeys" -> ((s, d) => {
      val lk = s.createDataFrame(Seq(("type", "event_kind"))).toDF("k", "v")
      // spread: str_to_map + the bare-key regex pre-pass measured 0.9s
      // in one task off the single local split
      val e = spread(t(s, d, "events")).withColumn("kv",
        concat(lit("type="), col("event_type"), lit(";user="), col("user_id").cast("string")))
      val m = RowOps.fieldParse(e, "kv", "kvmap")
      RowOps.lookupReplaceMapKeys(m, lk, "kvmap", "k", "v")
        .select(col("event_id"),
          array_join(sort_array(map_keys(col("kvmap"))), ",").as("keys_csv"),
          element_at(col("kvmap"), "event_kind").as("kind_val"))
    }),
    "q_interval_attach" -> ((s, d) => {
      val ref = t(s, d, "region").select(
        col("r_regionkey").cast(LongType).as("rk"),
        (col("r_regionkey") * lit(100.0)).as("lo"),
        (col("r_regionkey") * lit(100.0) + lit(150.0)).as("hi"))
      val ev = t(s, d, "events")
        .select(col("event_id"), (col("user_id") % 5).as("mk"), col("value"))
      RowOps.intervalAttach(ev, ref, "mk", "value", "value", "rk", "lo", "hi", "hits")
        .select(col("event_id"),
          array_join(transform(col("hits"), h => h.getField("rk").cast("string")), ",")
            .as("rks"),
          size(col("hits")).cast(LongType).as("n_hits"))
    }),
    "q_interval" -> ((s, d) => {
      val ref = t(s, d, "region").select(
        col("r_regionkey").cast(LongType).as("rk"),
        (col("r_regionkey") * lit(100.0)).as("lo"),
        (col("r_regionkey") * lit(100.0) + lit(150.0)).as("hi"))
      val ev = t(s, d, "events")
        .select(col("event_id"), (col("user_id") % 5).as("mk"), col("value"))
      RowOps.intervalIntersect(ev, ref, "mk", "value", "value", "rk", "lo", "hi")
        .select("event_id", "rk")
    }),
    "q_interval_binned" -> ((s, d) => {
      // same rows as q_interval, computed by the binned scale path
      // (high-cardinality (match, bin) join key instead of broadcast)
      val ref = t(s, d, "region").select(
        col("r_regionkey").cast(LongType).as("rk"),
        (col("r_regionkey") * lit(100.0)).as("lo"),
        (col("r_regionkey") * lit(100.0) + lit(150.0)).as("hi"))
      val ev = t(s, d, "events")
        .select(col("event_id"), (col("user_id") % 5).as("mk"), col("value"))
      RowOps.intervalIntersectBinned(ev, ref, "mk", "value", "value",
        "rk", "lo", "hi", binWidth = 50.0)
        .select("event_id", "rk")
    }),
    "q_agg_reduce" -> ((s, d) =>
      // spread: 600k rows of decimal arithmetic off a 3-row-group file
      // ran in 3 tasks (measured 0.96s run); the partial aggregation
      // after the spread keeps the exchange tiny
      spread(t(s, d, "lineitem"), "l_orderkey")
        .groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))),
    "q_accumulate" -> ((s, d) =>
      t(s, d, "documents").groupBy(col("lang")).agg(
        expr("array_join(transform(sort_array(collect_list(doc_id)), x -> cast(x as string)), ',')")
          .as("doc_ids_csv"),
        count(lit(1)).as("n_rows"))),
    "q_distinct" -> ((s, d) =>
      RowOps.distinctBy(t(s, d, "events").select("user_id", "event_type"),
        Seq("user_id", "event_type"))),
    "q_window_agg" -> ((s, d) =>
      // the batch face of streaming.StreamValidate.windowedEventAgg:
      // identical plan shape, oracle-checkable sums
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
        .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
          col("event_type"), col("n"), col("value_sum"))),

    // ---- graph emission + graphcheck (SURVEY.md §2.5) ----
    "g_vertices" -> ((s, d) =>
      GraphEmit.vertices(FilesTable.files(s, d), FilesTable.repoManifest(s, d))),
    "g_edges" -> ((s, d) => GraphEmit.edges(FilesTable.files(s, d))),
    "g_orphan_edges" -> ((s, d) => {
      val f = FilesTable.files(s, d)
      GraphEmit.orphanEdges(GraphEmit.edges(f),
        GraphEmit.vertices(f, FilesTable.repoManifest(s, d)))
    }),
    "g_gdc_edges" -> ((s, _) => {
      // schema-driven graph emission at non-toy scale: the reference's
      // own gdc corpus (106,521 cases) through the case class's link
      // declarations (projects + phenotypes templatePointers) — the
      // same engine path the YAML goldens exercise, here oracle-gated
      // and bench-timed (~128k edges). Schema pinned per JVM (r8): the
      // eager JSON inference pass re-decompressed and re-parsed the
      // whole gzip corpus once per call before the real scan.
      val cases = ndjsonPinned(s, s"$gdcDir/gdc-case.json.gz")
      val cls = graft.rules.SchemaLoader.loadDir(s"$gdcDir/schemas")("case")
      // (measured: spreading the parsed frame costs more in struct
      // shuffle than the edge explode saves — the one-task gzip parse
      // is the floor here)
      GraphEmit.schemaEdges(cases, cls)
    }),

    // ---- text analysis (training-data ops) ----
    // spread on all four: token/regex-heavy single-scan operators over
    // the one-split local documents table (see spread scaladoc)
    "t_tokens" -> ((s, d) =>
      spread(t(s, d, "documents")).select(col("doc_id"),
        TextOps.wsTokenCount("text").as("ws_tokens"),
        TextOps.bpeTokenCount("text").as("bpe_tokens"))),
    "t_langid" -> ((s, d) =>
      spread(t(s, d, "documents")).select(col("doc_id"),
        TextOps.langGuess("text").as("lang_guess"))),
    "t_quality" -> ((s, d) =>
      spread(t(s, d, "documents")).select(col("doc_id"),
        TextOps.qualityScore("text").as("quality"))),
    "t_fingerprint" -> ((s, d) =>
      spread(t(s, d, "documents")).select(col("doc_id"),
        TextOps.fingerprint("text").as("fp"))),

    // ---- dedup (training-data ops) ----
    "d_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")),
    "d_minhash_pairs" -> ((s, d) =>
      Dedup.lshCandidatePairs(
        Dedup.withMinhashSignature(Dedup.withWordShingles(augDocs(s, d), "text")),
        "doc_id")),
    "d_simhash" -> ((s, d) =>
      Dedup.simhashDf(t(s, d, "documents"), "text", "simhash16")
        .select("doc_id", "simhash16")),

    // ---- similarity search (training-data ops) ----
    "s_ann_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", 10)
    }),

    // ---- second coverage batch ----
    "q_field_process" -> ((s, d) => {
      val doc = t(s, d, "documents").withColumn("toks", split(col("text"), " "))
      RowOps.fieldProcess(doc, "toks", Seq("doc_id", "lang"), "tok")
        .filter(length(col("tok")) > 5)
    }),
    "d_jaccard_verify" -> ((s, d) => jaccardPairs(s, d)),
    "d_dedup_clusters" -> ((s, d) =>
      Dedup.nearDupClusters(jaccardPairs(s, d))),
    "d_dedup_survivors" -> ((s, d) => {
      val clusters = Dedup.nearDupClusters(jaccardPairs(s, d))
      Dedup.survivors(augDocs(s, d), "doc_id", clusters).select("doc_id")
    }),
    "p_train_pipeline" -> ((s, d) => {
      // FLAGSHIP COMPOSITE: the whole training-data preparation chain —
      // language heuristic + quality score + filters, exact dedup
      // (min-id winner), then the full near-dup machinery over the KEPT
      // corpus, emitting survivors with their per-doc stats. Certifies
      // the operators COMPOSE (the standalone queries only certify each
      // alone); the oracle replays every stage from the same fragments.
      // r8: intermediates SHARED within the query (localCheckpoint —
      // the self-cleaning persist), matching Dedup.pipeline's
      // documented production shape: the lang/quality scoring pass ran
      // up to 3x (keep branch, kept join, survivors) and the shingle
      // table fed the signature path plus both sides of the verify
      // join. The oracle replays the same logical stages; sharing
      // changes which subtrees recompute, never a row. [[spread]]
      // parallelizes the regex-heavy scoring off the single input
      // split.
      val scored = spread(augDocs(s, d))
        .withColumn("lang_guess", TextOps.langGuess("text"))
        .withColumn("quality", TextOps.qualityScore("text"))
      val filtered = scored
        .filter(col("lang_guess") =!= "und" && col("quality") >= 0.5)
        .localCheckpoint()
      val keep = Dedup.exact(filtered, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val kept = filtered.join(keep, Seq("doc_id"))
      val sh = Dedup.withWordShingles(kept.select("doc_id", "text"), "text")
        .select(col("doc_id"), col("shingles"))
        .localCheckpoint()
      val cand = Dedup.lshCandidatePairs(Dedup.withMinhashSignature(sh), "doc_id")
        .localCheckpoint()
      val pairs = Dedup.verifyPairs(sh, cand, 0.8)
      val clusters = Dedup.nearDupClusters(pairs)
      Dedup.survivors(kept, "doc_id", clusters)
        .select(col("doc_id"), col("lang_guess"), col("quality"),
          TextOps.wsTokenCount("text").as("ws_tokens"))
    }),
    "v_len_hist" -> ((s, d) =>
      LengthHistogram.compute(FilesTable.files(s, d),
        Seq("content", "path", "lang"), bucketWidth = 32)),
    "v_drift_lang" -> ((s, d) => {
      val f = FilesTable.files(s, d)
      DriftCheck.categoricalTv(f, coalesce(col("lang"), lit("__null__")),
        col("doc_id") % 2 === 0)
    }),
    "v_salted_hot" -> ((s, d) =>
      // the planted 30%-hot repo through the two-phase plan salted by
      // map task, which countByKeyAuto runs on every call
      SaltedAgg.countByKeyAuto(FilesTable.files(s, d), Seq("repo"))),
    "d_simhash_pairs" -> ((s, d) =>
      // spread: the simhash evaluation runs pre-shuffle on the single
      // local split otherwise
      Dedup.simhashPairs(spread(augDocs(s, d)), "doc_id", "text",
        maxHamming = 2)),
    "d_embed_neardup" -> ((s, d) => {
      val e = t(s, d, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val aug = e.unionAll(e.filter(col("vec_id") % 20 === 0).select(
        (col("vec_id") + 100000).as("vec_id"),
        concat(array(element_at(col("v"), 1) + lit(0.5)),
          expr("slice(v, 2, size(v) - 1)")).as("v")))
      Dedup.embeddingNearDups(aug, "vec_id", "v", 0.8)
    }),
    "q_json_parse" -> ((s, d) =>
      RowOps.jsonParse(t(s, d, "events"), "props", "k INT", "j")
        .select(col("event_id"), col("j.k").cast(LongType).as("k_num"))),
    "q_pivot" -> ((s, d) =>
      Reshape.pivot(t(s, d, "events"), "user_id", "event_type",
        Seq("click", "error", "purchase", "signup", "view"),
        sum(col("value").cast("decimal(18,2)")).cast("double"))),
    "q_transpose" -> ((s, d) => {
      val wide = Reshape.pivot(
        t(s, d, "events").filter(col("user_id") < 5)
          .withColumn("user_id", concat(lit("u"), col("user_id").cast("string"))),
        "user_id", "event_type",
        Seq("click", "error", "purchase", "signup", "view"), count(lit(1)))
      Reshape.transpose(wide, "user_id", Seq("u0", "u1", "u2", "u3", "u4"))
    }),
    // the x_* block: queries whose oracles need more than plain SQL —
    // each is hash-gated anyway since r4-r6 (HUGEINT bit arithmetic,
    // precomputed deterministic literals, CPython golden parquet,
    // fixed-point ordered replay); see the matching DuckSql scaladoc
    "x_simhash64_pairs" -> ((s, d) =>
      // the production-width near-dup path (16-bit sigs saturate ~10^4
      // docs); oracle-gated since round 4 — the wrapping-u64 splitmix64
      // replays in DuckDB HUGEINT mod-2^64 arithmetic
      // (DuckSql.xSimhash64Pairs); exact banding additionally certified
      // in PipelineOpsSpec vs the all-pairs form and 10^5-doc ground
      // truth
      Dedup.simhashPairs64(spread(augDocs(s, d)), "doc_id", "text",
        maxHamming = 2)),
    "x_ann_lsh" -> ((s, d) => {
      // oracle-gated since round 4: every stage of this "approximate"
      // path is deterministic (fixed splitmix64 hyperplanes, ordered
      // folds), so DuckDB replays bucket/probe/re-rank exactly
      // (DuckSql.xAnnLsh) — recall vs brute force stays reported in
      // Bench alongside
      val emb = t(s, d, "embeddings")
      Ann.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        10, planes = 4, tables = 16)
    }),
    "x_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ivf.search(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        10, nCells = 16, nprobe = 4)
    }),
    "x_media_meta" -> ((s, d) =>
      Multimodal.decodeMeta(Multimodal.syntheticMedia(s, 500)).toDF()),
    "x_media_features" -> ((s, d) => {
      val m = Multimodal.syntheticMedia(s, 500)
      // feature serialized to fixed-precision csv: (a) arrays are
      // unsortable in the driver's pandas canonicalization, (b) every
      // value is integer/32 so %.5f is exact — a DuckDB oracle can
      // replay the synthetic byte arithmetic byte-for-byte
      Multimodal.validFeatures(Multimodal.decodeMeta(m),
        Multimodal.extractFeatures(m, frames = 2))
        .withColumn("feature_csv",
          expr("array_join(transform(feature, x -> format_string('%.5f', x)), ',')"))
        .drop("feature")
    }),
    "x_media_pixels" -> ((s, d) => {
      // REAL pixel/PCM decode (VERDICT r6 ask #6): a corpus of genuine
      // BMP and WAV files (built byte-by-byte from the id — stride
      // padding, bottom-up AND top-down BMPs, a JUNK chunk before
      // fmt) is decoded by PixelCodec and reduced to exact integer
      // features; the oracle replays the pixel/sample VALUE formulas
      // over logical coordinates, so any stride / row-order / channel
      // order / chunk-walk bug in the decoder shifts a sum and goes
      // red. The require certifies every file actually decoded.
      val feats = graft.multimodal.PixelCodec.pixelFeatures(
        graft.multimodal.PixelCodec.syntheticMediaReal(s, 500))
      require(feats.filter(!col("valid")).isEmpty,
        "some synthetic media files failed to decode")
      feats.select("media_id", "format", "n_units", "sum1", "sum2", "wsum")
    }),
    "x_uuid5" -> ((s, d) => {
      graft.expr.UuidExprs.register(s)
      FilesTable.files(s, d).select(col("repo"), col("path"), col("commit"),
        graft.expr.UuidExprs.uuid5(
          lit(graft.expr.NameUuid.NamespaceUrl),
          concat(col("repo"), lit("/"), col("path"), lit("@"), col("commit")))
          .as("uid"))
    }))

  def oracleSql: Map[String, String] = Map(
    "v_violations" -> DuckSql.vViolations,
    "v_verdicts" -> DuckSql.vVerdicts,
    "v_unique_dups" -> DuckSql.vUniqueDups,
    // bucketed-table check must equal the plain groupBy (and plans
    // exchange-free — certified by the require inside the query)
    "v_unique_bucketed" -> DuckSql.vUniqueDups,
    "v_ref_orphans" -> DuckSql.vRefOrphans,
    "v_profile" -> DuckSql.vProfile(profiledCols),
    "v_drift_ks" -> DuckSql.vDriftKs,
    "v_drift_psi" -> DuckSql.vDriftPsi,
    // resumed checkpointed run must land on the same grid as one-shot
    "v_resume" -> DuckSql.vVerdicts,
    // incremental (streamed) violations must equal the batch set
    "v_stream_violations" -> DuckSql.vViolations,
    // kill-and-resume streamed run: log-visible sink ≡ batch set
    "v_stream_resume" -> DuckSql.vViolations,
    // violations read back through a compacted snapshot ≡ batch set
    "v_compact" -> DuckSql.vViolations,
    // bucket-transform point lookup ≡ full-scan filter
    "v_point_lookup" -> DuckSql.vPointLookup,
    // two schema eras reconciled ≡ SQL union with typed NULLs
    "v_schema_evolve" -> DuckSql.vSchemaEvolve,
    // per-partition profile rows merged ≡ full-corpus profile
    "v_profile_incr" -> DuckSql.vProfileIncr,
    // per-partition histograms merged ≡ full-corpus cohort PSI
    "v_drift_incr" -> DuckSql.vDriftIncr(FileRules.drift.bucketWidth),
    // copy-on-write delete of one range partition ≡ NOT BETWEEN
    "v_delete_rows" -> DuckSql.vDeleteRows,
    // bucket-routed MERGE ≡ anti-join ∪ updates
    "v_upsert" -> DuckSql.vUpsert,
    // micro-batches committed as snapshot partitions, then fully
    // replayed (at-least-once storm) — sealed table ≡ batch set
    "v_stream_ice" -> DuckSql.vViolations,
    // history violations ∪ violations of ONLY the appended partitions
    // (metadata-only carry-forward) ≡ full-corpus batch set
    "v_incremental" -> DuckSql.vViolations,
    // mapGroupsWithState running totals: final state per rule ≡ batch count
    "v_stream_totals" -> DuckSql.vRuleTotals,
    // the streamed windowed agg must equal the batch hour buckets over
    // the REAL events (the sentinel's window is never watermark-finalized)
    "v_stream_window" ->
      """SELECT date_trunc('hour', ts) AS w_start,
        |date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    // streaming first-wins dedup over planted duplicates ≡ the
    // text-canonicalized corpus (duplicates always arrive in later
    // batches — see the query)
    "v_stream_dedup" ->
      """WITH uniq AS (SELECT min(doc_id) AS doc_id, text
        |              FROM documents GROUP BY text)
        |SELECT doc_id, md5(text) AS digest FROM uniq""".stripMargin,
    // kill-and-resume stateful dedup: duplicates arrive only AFTER the
    // restart, so the admitted set equals first-wins iff the dedup
    // state round-tripped the checkpoint
    "v_stream_dedup_resume" ->
      """WITH uniq AS (SELECT min(doc_id) AS doc_id, text
        |              FROM documents GROUP BY text)
        |SELECT doc_id, md5(text) AS digest FROM uniq""".stripMargin,
    // late-data certification: the oracle REPLAYS the watermark rule —
    // batch 0 (even ids) fully admitted and fixing the watermark at
    // max(even ts) - 600999 ms; batch 1 (odd ids) admitted only where
    // the hour window is still open (window end > watermark)
    "v_stream_late" ->
      """WITH wm AS (
        |  SELECT max(ts) - to_milliseconds(600999) AS w
        |  FROM events WHERE event_id % 2 = 0
        |), adm AS (
        |  SELECT ts, event_type, value FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT ts, event_type, value FROM events, wm
        |  WHERE event_id % 2 = 1
        |    AND date_trunc('hour', ts) + INTERVAL 1 HOUR > wm.w
        |)
        |SELECT date_trunc('hour', ts) AS w_start,
        |date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM adm GROUP BY 1, 2, 3""".stripMargin,
    // source oracles re-derive the parse semantics from RAW LINES (this
    // DuckDB predates read_csv's `comment` param): comment lines dropped
    // BEFORE records are numbered, rowSkip counts post-comment records,
    // header is the first post-skip record, short rows pad with ""
    "q_table_src" ->
      s"""WITH lines AS (
         |  SELECT line, row_number() OVER () - 1 AS rec
         |  FROM (SELECT column0 AS line FROM read_csv('$fixturesDir/table_src.tsv',
         |        delim=E'\\x01', header=false, all_varchar=true, quote='', escape=''))
         |  WHERE line NOT LIKE '#%'
         |)
         |SELECT COALESCE(f[1],'') AS id, COALESCE(f[2],'') AS name, COALESCE(f[3],'') AS score
         |FROM (SELECT string_split(line, E'\\t') AS f FROM lines WHERE rec > 1)""".stripMargin,
    "q_table_native" ->
      // native path: empty/missing fields are NULL (Spark CSV nullValue)
      s"""WITH lines AS (
         |  SELECT line, row_number() OVER () - 1 AS rec
         |  FROM (SELECT column0 AS line FROM read_csv('$fixturesDir/table_native.tsv',
         |        delim=E'\\x01', header=false, all_varchar=true, quote='', escape=''))
         |  WHERE line NOT LIKE '#%'
         |)
         |SELECT NULLIF(f[1],'') AS id, NULLIF(f[2],'') AS name, NULLIF(f[3],'') AS score
         |FROM (SELECT string_split(line, E'\\t') AS f FROM lines WHERE rec > 0)""".stripMargin,
    "q_ndjson_src" ->
      s"SELECT id, name, opt, val FROM read_json_auto('$fixturesDir/ndjson_src.ndjson')",
    // the binary-format sources (sqlite b-tree, SQL dump, XML, Avro OCF)
    // have no DuckDB reader in this sandbox; their oracles are VALUES
    // literals derived independently from the fixture bytes (sqlite via
    // CPython's sqlite3, the rest by hand from the committed fixtures)
    "q_sqlite_src" ->
      """SELECT * FROM (VALUES ('a','1'),('b','-32769'),('c',CAST(NULL AS VARCHAR))) t(k,v)""",
    "q_sqlite_agg" ->
      "SELECT CAST(3002 AS BIGINT) AS n, CAST(4701501 AS BIGINT) AS id_sum",
    "q_sqldump_src" ->
      """SELECT * FROM (VALUES
        |  ('mutations','10','1','breast'),
        |  ('mutations','11','2','lung'),
        |  ('mutations','12','1','colon')) t("table", mid, pid, cancer)""".stripMargin,
    "q_xml_src" ->
      """SELECT * FROM (VALUES
        |  ('1','alpha','3.5',CAST(NULL AS VARCHAR)),
        |  ('2','beta',CAST(NULL AS VARCHAR),CAST(NULL AS VARCHAR)),
        |  ('3','gamma','7.25','x,y')) t(id, name, price, tags)""".stripMargin,
    "q_avro_src" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT),'ada',CAST(2.5 AS DOUBLE),'paris'),
        |  (CAST(2 AS BIGINT),CAST(NULL AS VARCHAR),CAST(NULL AS DOUBLE),CAST(NULL AS VARCHAR)),
        |  (CAST(3 AS BIGINT),'bob',CAST(-0.5 AS DOUBLE),'oslo')) t(id, name_s, score_d, city)""".stripMargin,
    "q_glob_src" ->
      s"""SELECT id, tag, w, extra, regexp_extract(filename, '[^/]+$$') AS src_file
         |FROM read_json_auto('$fixturesDir/glob/*.ndjson', filename=true)""".stripMargin,
    "q_project" ->
      """SELECT n_nationkey AS id, 'nation:' || n_name AS label,
        |printf('key=%d region=%d', n_nationkey, n_regionkey) AS descr FROM nation""".stripMargin,
    "q_filter" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_type = 'purchase' AND props IS NOT NULL AND LENGTH(props) > 0 AND user_id <> 0""".stripMargin,
    "q_clean" ->
      """SELECT event_id,
        |CASE WHEN LENGTH(event_type) = 0 THEN NULL ELSE event_type END AS event_type,
        |CASE WHEN LENGTH(props) = 0 THEN NULL ELSE props END AS props FROM events""".stripMargin,
    "q_field_type" ->
      """SELECT event_id,
        |TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_num,
        |TRY_CAST(event_type AS BIGINT) AS bad_cast FROM events""".stripMargin,
    "q_field_parse" ->
      "SELECT event_id, CAST(user_id AS VARCHAR) AS user_str, event_type AS type_str FROM events",
    "q_split" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
        |SELECT doc_id, CAST(len(s) AS BIGINT) AS n_tokens, s[1] AS first_tok, s[len(s)] AS last_tok FROM tk""".stripMargin,
    "q_regex_replace" ->
      "SELECT doc_id, substr(regexp_replace(text, 'data', 'DATA', 'g'), 1, 80) AS head FROM documents",
    "q_hash" ->
      "SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex FROM documents",
    "q_map_py" ->
      """SELECT doc_id, lang, n_chars, upper(lang) AS lang_up,
        |n_chars * 2 + 1 AS chars2,
        |CASE WHEN n_chars > 500 THEN 'long' ELSE 'short' END AS bucket
        |FROM documents""".stripMargin,
    "q_filter_py" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en' AND n_chars % 3 <> 0",
    "q_flatmap_py" ->
      // python str.split() == whitespace-run split of the trimmed text
      // `a[u.i] <> ''` aligns the edge python defines away: str.split()
      // with no args never yields empty tokens, but regex-splitting a
      // whitespace-only string yields one '' element
      """WITH s AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\r\n]+') AS a
        |           FROM documents)
        |SELECT doc_id, u.i - 1 AS pos, a[u.i] AS tok
        |FROM s, unnest(range(1, least(3, len(a)) + 1)) AS u(i)
        |WHERE a[u.i] <> ''""".stripMargin,
    "q_reduce_py" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY lang""".stripMargin,
    "q_lookup_copy" ->
      """SELECT n_nationkey, n_name, n_regionkey, r_name AS region_name
        |FROM nation LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "q_lookup_replace" ->
      """SELECT event_id,
        |CASE WHEN event_type = 'purchase' THEN 'BUY' WHEN event_type = 'signup' THEN 'NEW'
        |ELSE event_type END AS event_type FROM events""".stripMargin,
    "q_lookup_replace_array" ->
      """SELECT doc_id, array_to_string(list_transform(string_split(text, ' '),
        |  t -> CASE WHEN t = 'data' THEN 'DATA' WHEN t = 'the' THEN 'THE' ELSE t END), ' ') AS replaced
        |FROM documents""".stripMargin,
    "q_lookup_replace_mapkeys" ->
      """SELECT event_id, 'event_kind,user' AS keys_csv, event_type AS kind_val
        |FROM events""".stripMargin,
    "q_interval_attach" ->
      """WITH ref AS (SELECT CAST(r_regionkey AS BIGINT) AS rk,
        |  r_regionkey * CAST(100 AS DOUBLE) AS lo,
        |  r_regionkey * CAST(100 AS DOUBLE) + 150 AS hi FROM region)
        |SELECT e.event_id,
        |  COALESCE(array_to_string(list_sort(list(r.rk) FILTER (r.rk IS NOT NULL)), ','), '') AS rks,
        |  CAST(COUNT(r.rk) AS BIGINT) AS n_hits
        |FROM events e
        |LEFT JOIN ref r ON (e.user_id % 5) = r.rk AND e.value <= r.hi AND e.value >= r.lo
        |GROUP BY e.event_id""".stripMargin,
    "q_interval" ->
      """WITH ref AS (SELECT CAST(r_regionkey AS BIGINT) AS rk,
        |  r_regionkey * CAST(100 AS DOUBLE) AS lo,
        |  r_regionkey * CAST(100 AS DOUBLE) + 150 AS hi FROM region)
        |SELECT e.event_id, r.rk FROM events e
        |JOIN ref r ON (e.user_id % 5) = r.rk AND e.value <= r.hi AND e.value >= r.lo""".stripMargin,
    "q_interval_binned" ->
      """WITH ref AS (SELECT CAST(r_regionkey AS BIGINT) AS rk,
        |  r_regionkey * CAST(100 AS DOUBLE) AS lo,
        |  r_regionkey * CAST(100 AS DOUBLE) + 150 AS hi FROM region)
        |SELECT e.event_id, r.rk FROM events e
        |JOIN ref r ON (e.user_id % 5) = r.rk AND e.value <= r.hi AND e.value >= r.lo""".stripMargin,
    "q_agg_reduce" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_rows FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q_accumulate" ->
      """SELECT lang, array_to_string(list_sort(list(doc_id)), ',') AS doc_ids_csv,
        |COUNT(*) AS n_rows FROM documents GROUP BY 1""".stripMargin,
    "q_distinct" -> "SELECT DISTINCT user_id, event_type FROM events",
    "q_window_agg" ->
      """SELECT date_trunc('hour', ts) AS w_start,
        |date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "g_vertices" -> DuckSql.gVertices,
    "g_edges" -> DuckSql.gEdges,
    "g_orphan_edges" -> DuckSql.gOrphanEdges,
    "g_gdc_edges" -> DuckSql.gGdcEdges(gdcDir),
    "t_tokens" -> DuckSql.tTokens,
    "t_langid" -> DuckSql.tLangid,
    "t_quality" -> DuckSql.tQuality,
    "t_fingerprint" -> DuckSql.tFingerprint,
    "d_dedup_exact" -> DuckSql.dDedupExact,
    "d_minhash_pairs" -> DuckSql.dMinhashPairs,
    "d_simhash" -> DuckSql.dSimhash,
    "d_simhash_pairs" -> DuckSql.dSimhashPairs,
    "s_ann_topk" -> DuckSql.sAnnTopk,
    "q_field_process" -> DuckSql.qFieldProcess,
    "q_json_parse" ->
      """SELECT event_id,
        |TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_num
        |FROM events""".stripMargin,
    "q_pivot" -> {
      val cols = Seq("click", "error", "purchase", "signup", "view").map(v =>
        s"CAST(SUM(CASE WHEN event_type = '$v' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS $v")
        .mkString(",\n")
      s"SELECT user_id,\n$cols\nFROM events GROUP BY 1"
    },
    "q_transpose" -> {
      val cols = (0 to 4).map(u =>
        s"CAST(SUM(CASE WHEN user_id = $u THEN 1 END) AS VARCHAR) AS u$u")
        .mkString(",\n")
      s"SELECT event_type AS col_name,\n$cols\nFROM events WHERE user_id < 5 GROUP BY 1"
    },
    "d_jaccard_verify" -> DuckSql.dJaccardVerify,
    "d_dedup_clusters" -> DuckSql.dDedupClusters,
    "d_dedup_survivors" -> DuckSql.dDedupSurvivors,
    "p_train_pipeline" -> DuckSql.pTrainPipeline,
    "d_embed_neardup" -> DuckSql.dEmbedNearDup,
    "v_len_hist" -> DuckSql.vLenHist(Seq("content", "path", "lang"), 32),
    "v_drift_lang" -> DuckSql.vDriftLang,
    "v_salted_hot" -> DuckSql.vSaltedHot,
    "x_media_meta" -> DuckSql.xMediaMeta,
    "x_media_features" -> DuckSql.xMediaFeatures,
    // real-decode features: the oracle recomputes the synthetic
    // pixel/sample value formulas (PixelCodec.synthPixel/synthSample)
    // over logical coordinates — decoder-independent ground truth
    "x_media_pixels" ->
      """WITH ids AS (SELECT range AS id FROM range(500)),
        |bmp AS (SELECT id, 3 + id % 5 AS w, 2 + id % 4 AS h
        |        FROM ids WHERE id % 2 = 0),
        |bmp_px AS (
        |  SELECT b.id, b.w, b.h, x.range AS x, y.range AS y,
        |    (b.id*131 + x.range*17 + y.range*29 + 106) % 251 AS r,
        |    (b.id*131 + x.range*17 + y.range*29) % 251 AS bch
        |  FROM bmp b, range(7) x, range(5) y
        |  WHERE x.range < b.w AND y.range < b.h),
        |bmp_f AS (
        |  SELECT id AS media_id, 'bmp' AS format,
        |    CAST(max(w) * max(h) AS BIGINT) AS n_units,
        |    CAST(sum(r) AS BIGINT) AS sum1,
        |    CAST(sum(bch) AS BIGINT) AS sum2,
        |    CAST(sum((1 + x + 31*y) * r) AS BIGINT) AS wsum
        |  FROM bmp_px GROUP BY id),
        |wav AS (SELECT id, 40 + id % 17 AS n FROM ids WHERE id % 2 = 1),
        |wav_s AS (
        |  SELECT w.id, w.n, i.range AS i,
        |    (w.id*37 + i.range*11) % 2048 - 1024 AS s
        |  FROM wav w, range(57) i WHERE i.range < w.n),
        |wav_f AS (
        |  SELECT id AS media_id, 'wav' AS format,
        |    CAST(max(n) AS BIGINT) AS n_units,
        |    CAST(sum(s) AS BIGINT) AS sum1,
        |    CAST(sum(abs(s)) AS BIGINT) AS sum2,
        |    CAST(sum((i+1) * s) AS BIGINT) AS wsum
        |  FROM wav_s GROUP BY id)
        |SELECT * FROM bmp_f UNION ALL SELECT * FROM wav_f""".stripMargin,
    "x_simhash64_pairs" -> DuckSql.xSimhash64Pairs,
    "x_ann_lsh" -> DuckSql.xAnnLsh(),
    // oracle-gated since round 6: fixed-point Lloyd sums make the
    // centroids (and hence the whole probe/re-rank) bit-reproducible
    "x_ann_ivf" -> DuckSql.xAnnIvf(),
    // oracle-gated since round 6: the sha1 digests come from a CPython
    // golden parquet (DuckDB has no sha1); keys stay live from the CTE
    "x_uuid5" -> DuckSql.xUuid5(fixturesDir))
}
