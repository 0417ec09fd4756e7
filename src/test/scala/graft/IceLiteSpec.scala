package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.io.IceLite
import graft.rules.FileRules
import graft.synth.FilesTable
import graft.validate.{CheckpointedValidation, Verdicts}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot/checkpoint/lineage + resume semantics (north-star
  * "resumable from Iceberg snapshot checkpoints with per-partition
  * lineage", kill-between-partitions simulation from SURVEY.md §7).
  */
class IceLiteSpec extends AnyFunSuite {
  import TestSpark._

  lazy val files = FilesTable.files(spark, sf).cache()

  private def freshRoot(): String =
    Files.createTempDirectory("icelite").toString

  test("clean run commits one snapshot with all partitions and lineage") {
    val root = freshRoot()
    val snap = CheckpointedValidation.run(spark, files, FileRules.rowRules, root)
    val ice = new IceLite(root)
    assert(snap === 1L)
    assert(ice.currentSnapshotId === Some(1L))
    val orgs = files.select(Verdicts.org(col("repo"))).distinct().count()
    assert(ice.snapshotParts(1).size === orgs)
    assert(ice.completedParts(1).size === orgs)
    val lin = ice.lineage(spark)
    assert(lin.count() === orgs)
    assert(lin.agg(sum("rows")).collect()(0).getLong(0) === files.count())
  }

  test("hostile partition names survive the manifest round-trip") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    // orgé: non-ASCII must survive Spark's per-CHAR %XX unescaping
    // (UTF-8 byte encoding comes back as mojibake); a+b: URLDecoder
    // would turn a raw '+' into a space on read-back
    val nasty = Seq("""org"x""", "a,b", "c]d[e", "sl/ash", "sp ace",
      "orgé", "a+b", "100")
    val snap = ice.nextSnapshotId
    nasty.foreach { part =>
      ice.commitPartition(snap, part, 1L,
        Map("t" -> Seq((part, 1L)).toDF("name", "n")))
    }
    ice.commitSnapshot(snap, nasty)
    assert(ice.snapshotParts(snap).sorted === nasty.sorted)
    assert(ice.completedParts(snap) === nasty.toSet)
    val back = ice.readTable(spark, snap, "t")
    assert(back.select("part").collect().map(_.getString(0)).sorted === nasty.sorted.toArray)
  }

  /** Every lineage record and interned schema under `root`, by relative
    * path, byte for byte. */
  private def ledger(root: String): Map[String, String] = {
    val base = java.nio.file.Paths.get(root)
    val s = Files.walk(base)
    try s.iterator().asScala
      .filter(f => Files.isRegularFile(f) && {
        val rel = base.relativize(f).toString
        rel.startsWith("lineage") || rel.startsWith("schemas")
      })
      .map(f => base.relativize(f).toString -> Files.readString(f)).toMap
    finally s.close()
  }

  test("a one-part commit writes the same lineage as commitParts; the " +
    "reserved part column never reaches the ledger") {
    import spark.implicits._
    val parts = Seq("a+b", "orgé", "sp ace")
    // `z` has no rows anywhere
    def t(part: String) = Seq((part, 1L), (part, 7L)).toDF("name", "n")
    val z = Seq.empty[(String, Double)].toDF("k", "v")
    val one = freshRoot()
    val ice = new IceLite(one)
    parts.foreach(part => ice.commitPartition(1L, part, 5L, Map("t" -> t(part), "z" -> z)))
    val wave = freshRoot()
    new IceLite(wave).commitParts(1L, "pc",
      Map("t" -> parts.map(part => t(part).withColumn("pc", lit(part))).reduce(_ union _),
        "z" -> z.withColumn("pc", lit("a+b"))),
      parts.map(_ -> 5L).toMap)
    val got = ledger(one)
    assert(got.keys.count(_.startsWith("lineage")) === parts.size)
    assert(got === ledger(wave))
    assert(!got.values.exists(_.contains("_gpart")))
    ice.commitSnapshot(1L, parts)
    assert(ice.readTable(spark, 1L, "t").columns.count(_ == "part") === 1)
    assert(ice.readTable(spark, 1L, "z").count() === 0)
    assert(ice.tableRowCount(1L, "t") === Some(6L))
  }

  test("commitPartitionFromFooters records its source files and the footer " +
    "row sum") {
    import spark.implicits._
    val ice = new IceLite(freshRoot())
    val fs = Seq("file:/in/a.parquet", "file:/in/b.parquet")
    ice.commitPartitionFromFooters(1L, "b00000",
      Map("t" -> (0 until 5).toDF("v"), "u" -> (0 until 2).toDF("w")),
      srcFiles = Some(fs))
    ice.commitPartitionFromFooters(1L, "b00001",
      Map("t" -> Seq.empty[Int].toDF("v"), "u" -> Seq.empty[Int].toDF("w")))
    assert(ice.partSourceFiles(1L, "b00000") === Some(fs))
    assert(ice.partSourceFiles(1L, "b00001") === None)
    val rows = ice.lineage(spark).select("part", "rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows === Map("b00000" -> 7L, "b00001" -> 0L))
  }

  test("compactSnapshot and deleteWhere carry a partition's source files " +
    "into their records") {
    import spark.implicits._
    val ice = new IceLite(freshRoot())
    val fs = Seq("file:/in/a.parquet", "file:/in/b.parquet")
    ice.commitPartitionFromFooters(1L, "b00000",
      Map("t" -> (0 until 6).toDF("v").repartition(3)), srcFiles = Some(fs))
    ice.commitSnapshot(1L, Seq("b00000"))
    val c = ice.compactSnapshot(spark)
    assert(ice.completedParts(c) === Set("b00000"))
    assert(ice.partSourceFiles(c, "b00000") === Some(fs))
    val d = ice.deleteWhere(spark, "t", col("v") === 3)
    assert(ice.completedParts(d) === Set("b00000"))
    assert(ice.readTable(spark, d, "t").count() === 5L)
    assert(ice.partSourceFiles(d, "b00000") === Some(fs))
  }

  test("an empty or NULL part name is refused before any Spark job") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    val df = Seq((1L, "x")).toDF("n", "s")
    val e = intercept[IllegalArgumentException] {
      ice.commitPartition(1L, "", 1L, Map("t" -> df))
    }
    assert(e.getMessage.contains("\"\""), e.getMessage)
    intercept[IllegalArgumentException] {
      ice.commitPartitionFromFooters(1L, null, Map("t" -> df))
    }
    val e2 = intercept[IllegalArgumentException] {
      ice.commitParts(1L, "s", Map("t" -> df), Map("" -> 1L))
    }
    assert(e2.getMessage.contains("\"\""), e2.getMessage)
    assert(ice.completedParts(1L).isEmpty)
    assert(!Files.exists(ice.lineageDir(1L)))
    Seq("data/snap=1", "tmp").foreach(d =>
      assert(!Files.exists(java.nio.file.Paths.get(root, d)), d))
  }

  test("a table carrying the reserved part column is refused") {
    import spark.implicits._
    val ice = new IceLite(freshRoot())
    intercept[IllegalArgumentException] {
      ice.commitPartition(1L, "p", 1L, Map("t" -> Seq(1L).toDF("_gpart")))
    }
    assert(ice.completedParts(1L).isEmpty)
  }

  test("footer stats prune whole partitions from the scan (inputFiles shrink)") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    val snap = ice.nextSnapshotId
    // three partitions with disjoint doc_id ranges
    Seq(("p0", 0L until 100L), ("p1", 100L until 200L), ("p2", 200L until 300L))
      .foreach { case (part, ids) =>
        ice.commitPartition(snap, part, ids.size.toLong,
          Map("t" -> ids.map(i => (i, s"d$i")).toDF("doc_id", "name")))
      }
    ice.commitSnapshot(snap, Seq("p0", "p1", "p2"))
    val full = ice.readTable(spark, snap, "t")
    assert(full.count() === 300L)
    // range [120, 180] overlaps only p1 -> 2/3 of the files never listed
    val pruned = ice.readTablePruned(spark, snap, "t", "doc_id", 120, 180)
    assert(pruned.inputFiles.length < full.inputFiles.length)
    assert(pruned.inputFiles.forall(_.contains("part=p1")))
    // pruning is transparent: same rows as a post-hoc filter of the full scan
    assert(pruned.filter($"doc_id".between(120, 180)).count() === 61L)
    assert(pruned.count() === 100L) // the whole surviving partition
    // boundary overlap keeps the partition (ranges are inclusive)
    assert(ice.readTablePruned(spark, snap, "t", "doc_id", 199, 200)
      .inputFiles.exists(_.contains("part=p1")))
    // a column with no recorded stats (string) never prunes
    assert(ice.readTablePruned(spark, snap, "t", "name", 0, 1)
      .inputFiles.length === full.inputFiles.length)
    // fully disjoint range: empty result, schema intact
    val none = ice.readTablePruned(spark, snap, "t", "doc_id", 1000, 2000)
    assert(none.count() === 0L)
    assert(none.schema.fieldNames.toSet === Set("doc_id", "name", "part"))
    // stats are exposed for audit
    assert(ice.partStats(snap, "p1", "t")("doc_id") === ((100.0, 199.0)))
    // conjunctive multi-predicate form: each range alone keeps p1+p2 /
    // p0+p1, the conjunction keeps only their intersection p1
    val multi = ice.readTablePruned(spark, snap, "t",
      Seq(("doc_id", 150.0, 250.0), ("doc_id", 50.0, 180.0)))
    assert(multi.inputFiles.nonEmpty && multi.inputFiles.forall(_.contains("part=p1")))
  }

  test("kill between partitions -> resume skips completed, verdicts identical") {
    val root = freshRoot()
    intercept[CheckpointedValidation.SimulatedCrash] {
      CheckpointedValidation.run(spark, files, FileRules.rowRules, root,
        crashAfter = Some(3))
    }
    val ice = new IceLite(root)
    assert(ice.currentSnapshotId === None) // nothing committed as a snapshot
    assert(ice.completedParts(1).size === 3)
    val before = ice.lineageDir(1).resolve(
      ice.completedParts(1).toSeq.sorted.head + ".json")
    val mtime = Files.getLastModifiedTime(before)

    val snap = CheckpointedValidation.run(spark, files, FileRules.rowRules, root)
    assert(snap === 1L)
    // the 3 completed partitions were not redone (lineage untouched)
    assert(Files.getLastModifiedTime(before) === mtime)

    // resumed verdicts == direct single-pass verdicts, row for row
    val resumed = CheckpointedValidation.verdicts(spark, root, snap)
      .select("part", "rule_id", "violation_count", "pass")
    val direct = Verdicts.compute(spark, files, FileRules.rowRules)
    assert(resumed.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(resumed).count() === 0)
  }

  test("snapshot GC: expire keeps retained history readable, drops the rest") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    // three committed snapshots with a hostile part name and per-snapshot
    // distinct values, so time travel is observable
    val part = """we?ird* [pt]"""
    (1 to 3).foreach { v =>
      val snap = ice.nextSnapshotId
      ice.commitPartition(snap, part, 1L,
        Map("t" -> Seq((part, v.toLong)).toDF("name", "version")))
      ice.commitSnapshot(snap, Seq(part))
    }
    // time travel before GC: every snapshot readable with its own value
    (1 to 3).foreach { v =>
      val r = ice.readTable(spark, v, "t").collect()(0)
      assert((r.getString(0), r.getLong(1)) === (part, v.toLong))
    }
    val expired = ice.expireSnapshots(retain = 2)
    assert(expired === Seq(1L))
    assert(ice.committedSnapshotIds === Seq(2L, 3L))
    // retained history still reads (hostile name intact), current pointer same
    assert(ice.currentSnapshotId === Some(3L))
    (2 to 3).foreach { v =>
      val r = ice.readTable(spark, v, "t").collect()(0)
      assert((r.getString(0), r.getLong(1)) === (part, v.toLong))
    }
    // expired snapshot is gone: manifest, lineage, data
    intercept[Exception] { ice.snapshotParts(1) }
    assert(ice.completedParts(1).isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(root, "data", "snap=1")))
  }

  test("compaction bin-packs small files copy-on-write; expiry keeps " +
    "referenced bytes") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    val snap = ice.nextSnapshotId
    // p0: 8 tiny files (the shape incremental/streaming commits leave
    // behind); p1: already packed — must NOT be rewritten
    ice.commitPartition(snap, "p0", 400L, Map("t" ->
      (0L until 400L).map(i => (i, s"d$i")).toDF("doc_id", "name")
        .repartition(8)))
    ice.commitPartition(snap, "p1", 100L, Map("t" ->
      (400L until 500L).map(i => (i, s"d$i")).toDF("doc_id", "name")
        .coalesce(1)))
    ice.commitSnapshot(snap, Seq("p0", "p1"))
    val before = ice.readTable(spark, snap, "t")
    assert(before.inputFiles.length === 9)
    val c = ice.compactSnapshot(spark)
    val after = ice.readTable(spark, c, "t")
    // p0 packed into one file; p1 served BY REFERENCE from snap's dir
    assert(after.inputFiles.length === 2)
    assert(after.inputFiles.count(_.contains(s"snap=$snap/")) === 1)
    assert(after.count() === 500L)
    assert(after.agg(sum("doc_id")).collect()(0).getLong(0) ===
      before.agg(sum("doc_id")).collect()(0).getLong(0))
    // the old snapshot is untouched and the logical diff is EMPTY —
    // compaction moved bytes, not content
    assert(ice.readTable(spark, snap, "t").count() === 500L)
    assert(ice.readTableAppended(spark, snap, c, "t").count() === 0L)
    // footer stats survived the rewrite: pruning still works
    val pruned = ice.readTablePruned(spark, c, "t", "doc_id", 450, 460)
    assert(pruned.inputFiles.nonEmpty)
    assert(pruned.inputFiles.forall(_.contains("part=p1")))
    // manifest row counts: one driver read, exact
    assert(ice.tableRowCount(c, "t") === Some(500L))
    assert(ice.tableRowCount(c, "no_such_table") === None)
    // expiring the pre-compaction snapshot reclaims p0's small files
    // but keeps p1's still-referenced bytes alive
    assert(ice.expireSnapshots(retain = 1) === Seq(snap))
    val dataDir = java.nio.file.Paths.get(root, "data", s"snap=$snap", "t")
    assert(Files.exists(dataDir.resolve("part=p1")))
    assert(!Files.exists(dataDir.resolve("part=p0")))
    assert(ice.readTable(spark, c, "t").count() === 500L)
  }

  test("compaction-referenced bytes are reclaimed once the referencing " +
    "snapshot itself expires; compaction refuses an in-progress id") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    // snap 1: one already-packed partition -> compaction (snap 2) keeps
    // it by reference
    val s1 = ice.nextSnapshotId
    ice.commitPartition(s1, "p1", 100L, Map("t" ->
      (0L until 100L).map(i => (i, s"d$i")).toDF("doc_id", "name").coalesce(1)))
    ice.commitSnapshot(s1, Seq("p1"))
    val s2 = ice.compactSnapshot(spark)
    val p1Dir = java.nio.file.Paths.get(root, "data", s"snap=$s1", "t", "part=p1")
    // expire s1: its bytes survive (s2 references them)
    assert(ice.expireSnapshots(retain = 1) === Seq(s1))
    assert(Files.exists(p1Dir))
    // a NEW snapshot with its own data supersedes s2; expiring s2 must
    // also sweep the s1 bytes it alone kept alive — even though s1 is
    // no longer a committed snapshot by then (the leak regression)
    val s3 = ice.nextSnapshotId
    ice.commitPartition(s3, "p1", 50L, Map("t" ->
      (0L until 50L).map(i => (i, s"x$i")).toDF("doc_id", "name")))
    ice.commitSnapshot(s3, Seq("p1"))
    assert(ice.expireSnapshots(retain = 1) === Seq(s2))
    assert(!Files.exists(p1Dir))
    assert(!Files.exists(java.nio.file.Paths.get(root, "data", s"snap=$s1")))
    assert(ice.readTable(spark, s3, "t").count() === 50L)
    // in-progress guard: uncommitted lineage under the next id means a
    // crashed run's checkpoint — compaction must refuse, not overwrite
    val s4 = ice.nextSnapshotId
    ice.commitPartition(s4, "p1", 10L, Map("t" ->
      (0L until 10L).map(i => (i, s"y$i")).toDF("doc_id", "name")))
    val e = intercept[IllegalArgumentException] { ice.compactSnapshot(spark) }
    assert(e.getMessage.contains("in progress"))
    // the checkpoint is intact; the run resumes and commits normally
    assert(ice.completedParts(s4) === Set("p1"))
    ice.commitSnapshot(s4, Seq("p1"))
    assert(ice.readTable(spark, s4, "t").count() === 10L)
    // the DISCARD arm: an abandoned in-progress snapshot can be dropped
    // explicitly (expireSnapshots never touches it), a committed one
    // cannot
    val s5 = ice.nextSnapshotId
    ice.commitPartition(s5, "p1", 5L, Map("t" ->
      (0L until 5L).map(i => (i, s"z$i")).toDF("doc_id", "name")))
    assert(ice.completedParts(s5) === Set("p1"))
    ice.discardInProgress(s5)
    assert(ice.completedParts(s5).isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(root, "data", s"snap=$s5")))
    intercept[IllegalArgumentException] { ice.discardInProgress(s4) }
    assert(ice.readTable(spark, s4, "t").count() === 10L)
    // after the discard, compaction of the current snapshot proceeds
    assert(ice.compactSnapshot(spark) === s5)
  }

  test("grouped compaction handles hostile partition names (the " +
    "partitionBy write normalizes to IceLite's escaping)") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    // names covering the enc()/Spark-escapePathName divergences: '+'
    // (Spark leaves raw), space (Spark escapes, enc doesn't), plus the
    // usual suspects — each committed as several tiny files so the
    // GROUPED single-job path (packs to one file) handles all of them
    val nasty = Seq("a+b", "sp ace", """org"x""", "orgé", "100", "c]d[e")
    val snap = ice.nextSnapshotId
    nasty.zipWithIndex.foreach { case (part, i) =>
      ice.commitPartition(snap, part, 50L,
        Map("t" -> (i * 100 until i * 100 + 50).map(v => (part, v))
          .toDF("name", "v").repartition(5)))
    }
    ice.commitSnapshot(snap, nasty)
    val before = ice.readTable(spark, snap, "t")
    assert(before.inputFiles.length === 30)
    val c = ice.compactSnapshot(spark)
    val after = ice.readTable(spark, c, "t")
    assert(after.inputFiles.length === nasty.size)
    // content and the restored part column both survive the round trip
    assert(after.select("part").distinct().collect().map(_.getString(0)).sorted
      === nasty.sorted.toArray)
    assert(after.agg(sum("v")).collect()(0).getLong(0) ===
      before.agg(sum("v")).collect()(0).getLong(0))
    assert(ice.readTableAppended(spark, snap, c, "t").count() === 0L)
  }

  test("carry-forward append: history partitions move into the new " +
    "snapshot as metadata only") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.commitPartition(1L, "h0", 100L, Map("t" ->
      (0L until 100L).map(i => (i, s"d$i")).toDF("doc_id", "name")))
    ice.commitSnapshot(1L, Seq("h0"))
    // append: h0 carried forward (no data write), n1 lands
    ice.commitPartition(2L, "n1", 50L, Map("t" ->
      (100L until 150L).map(i => (i, s"d$i")).toDF("doc_id", "name")))
    ice.carryForwardPartition(2L, "h0", 1L)
    ice.commitSnapshot(2L, Seq("h0", "n1"))
    // zero bytes written for history: no data dir for h0 under snap 2
    assert(!Files.exists(
      java.nio.file.Paths.get(root, "data", "snap=2", "t", "part=h0")))
    // the new snapshot reads the union, history served from snap 1's dir
    val t2 = ice.readTable(spark, 2L, "t")
    assert(t2.count() === 150L)
    assert(t2.inputFiles.count(_.contains("snap=1/")) > 0)
    // the incremental diff sees ONLY the appended partition
    val diff = ice.readTableAppended(spark, 1L, 2L, "t")
    assert(diff.count() === 50L)
    assert(diff.inputFiles.forall(_.contains("part=n1")))
    // carried stats still prune; manifest row count spans both
    assert(ice.tableRowCount(2L, "t") === Some(150L))
    assert(ice.readTablePruned(spark, 2L, "t", "doc_id", 120, 130)
      .inputFiles.forall(_.contains("part=n1")))
    // expiring snapshot 1 keeps the bytes snapshot 2 references
    assert(ice.expireSnapshots(retain = 1) === Seq(1L))
    assert(ice.readTable(spark, 2L, "t").count() === 150L)
    // chains never form: a further carry-forward resolves to the
    // ORIGINAL location, and a compaction of snap 2 still works
    ice.commitPartition(3L, "n2", 10L, Map("t" ->
      (150L until 160L).map(i => (i, s"d$i")).toDF("doc_id", "name")))
    ice.carryForwardPartition(3L, "h0", 2L)
    ice.carryForwardPartition(3L, "n1", 2L)
    ice.commitSnapshot(3L, Seq("h0", "n1", "n2"))
    assert(ice.readTable(spark, 3L, "t").count() === 160L)
    assert(ice.readTable(spark, 3L, "t")
      .inputFiles.count(_.contains("snap=1/")) > 0)
  }

  test("model check: random append/carry/compact/expire sequences always " +
    "read back the model") {
    import spark.implicits._
    // deterministic stateful fuzz over the snapshot layer: a reference
    // model (part -> ids) is maintained in plain Scala; after every
    // operation the CURRENT snapshot must read back exactly the model,
    // and every retained older snapshot its own frozen model. Exercises
    // the interactions the unit tests cover only pairwise (carry-forward
    // chains across compactions, expiry under mixed references, and —
    // since round 7 — SCHEMA ERAS: each append randomly writes era A
    // (doc_id, part_name) or era B (+extra), so reads reconcile
    // arbitrary era mixtures, compaction carrying
    // the ledger, and expiry dropping whole eras).
    val rnd = new scala.util.Random(20260817L)
    val partPool = Vector("p0", "p1", "p2", "p3")
    val root = freshRoot()
    val ice = new IceLite(root)
    var model = Map.empty[String, Set[Long]]
    // parts whose CURRENT data carries the era-B `extra` column — their
    // values must read back non-null through any read (an
    // all-null era-B partition is exactly what a mixed-era compaction
    // rewrite would silently produce if it lost the column)
    var eraB = Set.empty[String]
    var history = List.empty[(Long, Map[String, Set[Long]], Set[String])]
    var nextId = 1000L
    def commitAppend(): Unit = {
      val snap = ice.nextSnapshotId
      val prev = ice.currentSnapshotId
      // at least one changed part; unchanged committed parts carry over
      val changed = partPool.filter(_ => rnd.nextBoolean()) match {
        case e if e.isEmpty => Vector(partPool(rnd.nextInt(partPool.size)))
        case e => e
      }
      changed.foreach { p =>
        val ids = (0 until 5 + rnd.nextInt(20)).map(_ => { nextId += 1; nextId }).toSet
        model += p -> ids
        val df =
          if (rnd.nextBoolean()) {
            eraB -= p
            ids.toSeq.sorted.map(i => (i, p)).toDF("doc_id", "part_name")
          } else {
            eraB += p
            ids.toSeq.sorted.map(i => (i, p, s"x$i"))
              .toDF("doc_id", "part_name", "extra")
          }
        ice.commitPartitionFromFooters(snap, p, Map("t" -> df))
      }
      prev.foreach { from =>
        (model.keySet -- changed).foreach(p => ice.carryForwardPartition(snap, p, from))
      }
      ice.commitSnapshot(snap, model.keys.toSeq.sorted)
      history ::= ((snap, model, eraB))
    }
    def check(): Unit = {
      history.foreach { case (snap, m, eb) =>
        // one era reads as committed; mixed eras reconcile with typed
        // NULLs — either way the model columns must read back exactly
        val ev = ice.readTable(spark, snap, "t")
        val got = ev
          .select("part", "doc_id").collect()
          .groupBy(_.getString(0)).map { case (p, rs) =>
            p -> rs.map(_.getLong(1)).toSet
          }
        assert(got === m, s"snapshot $snap diverged from model")
        if (eb.nonEmpty) {
          // era-B parts must read their extra values back NON-NULL and
          // intact — an all-null era-B partition is what a compaction
          // that lost the column across a mixed-era rewrite produces —
          // and era-A rows read as typed NULLs
          assert(ev.columns.contains("extra"),
            s"snapshot $snap lost the era-B column entirely")
          val badB = ev.filter(col("part").isin(eb.toSeq: _*) &&
            (col("extra").isNull ||
              col("extra") =!= concat(lit("x"), col("doc_id")))).count()
          assert(badB === 0, s"snapshot $snap corrupted era-B data")
          val badA = ev.filter(!col("part").isin(eb.toSeq: _*) &&
            col("extra").isNotNull).count()
          assert(badA === 0, s"snapshot $snap fabricated era-A extras")
        }
      }
    }
    commitAppend()
    (1 to 10).foreach { _ =>
      rnd.nextInt(4) match {
        case 0 | 1 => commitAppend()
        case 2 =>
          val c = ice.compactSnapshot(spark, targetFileBytes = 1L << 20)
          history ::= ((c, model, eraB)) // content unchanged, new id
        case 3 =>
          val retain = 1 + rnd.nextInt(2)
          val expired = ice.expireSnapshots(retain).toSet
          history = history.filterNot { case (s, _, _) => expired(s) }
      }
      check()
    }
    assert(history.nonEmpty)
  }

  test("snapshot GC never touches an in-progress uncommitted snapshot") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    val s1 = ice.nextSnapshotId
    ice.commitPartition(s1, "p", 1L, Map("t" -> Seq(("p", 1L)).toDF("name", "n")))
    ice.commitSnapshot(s1, Seq("p"))
    // start snapshot 2 but crash before commitSnapshot (lineage only)
    val s2 = ice.nextSnapshotId
    ice.commitPartition(s2, "p", 1L, Map("t" -> Seq(("p", 2L)).toDF("name", "n")))
    assert(ice.expireSnapshots(retain = 1) === Seq.empty) // v1 is current: kept
    assert(ice.completedParts(s2) === Set("p")) // resume state untouched
    assert(ice.readTable(spark, 1, "t").count() === 1)
  }

  test("second snapshot builds on the first; both readable") {
    val root = freshRoot()
    val s1 = CheckpointedValidation.run(spark, files, FileRules.rowRules, root)
    val s2 = CheckpointedValidation.run(spark, files, FileRules.rowRules, root)
    assert((s1, s2) === (1L, 2L))
    val ice = new IceLite(root)
    assert(ice.currentSnapshotId === Some(2L))
    assert(ice.readTable(spark, 1, "violations").count() ===
      ice.readTable(spark, 2, "violations").count())
  }

  test("incremental read: only partitions appended between snapshots are " +
    "touched (commit-stream consumption)") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    def part(name: String, lo: Int): Unit =
      ice.commitPartition(ice.nextSnapshotId, name, 3L,
        Map("t" -> (lo until lo + 3).toDF("v")))
    // snapshot 1: partitions a, b
    part("a", 0); part("b", 10)
    ice.commitSnapshot(1L, Seq("a", "b"))
    // snapshot 2: a, b carried forward + c appended
    ice.commitPartition(2L, "a", 3L, Map("t" -> (0 until 3).toDF("v")))
    ice.commitPartition(2L, "b", 3L, Map("t" -> (10 until 13).toDF("v")))
    ice.commitPartition(2L, "c", 3L, Map("t" -> (20 until 23).toDF("v")))
    ice.commitSnapshot(2L, Seq("a", "b", "c"))
    val inc = ice.readTableAppended(spark, 1L, 2L, "t")
    assert(inc.select("v").collect().map(_.getInt(0)).sorted.toSeq === Seq(20, 21, 22))
    // ONLY c's files entered the scan
    assert(inc.inputFiles.nonEmpty &&
      inc.inputFiles.forall(_.contains("part=c")), inc.inputFiles.mkString(","))
    // empty diff -> empty frame with the table's schema
    val none = ice.readTableAppended(spark, 2L, 2L, "t")
    assert(none.columns.toSeq.contains("v") && none.count() === 0)
  }

  test("consolidated manifest: committed snapshots serve stats, pruning and " +
    "incremental diffs from ONE file — per-partition lineage not consulted") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    def commit(snap: Long, names: Seq[String], shift: Int): Unit = {
      names.zipWithIndex.foreach { case (name, i) =>
        val lo = i * 100 + shift
        ice.commitPartition(snap, name, 3L,
          Map("t" -> Seq(lo, lo + 1, lo + 2).toDF("v")))
      }
      ice.commitSnapshot(snap, names)
    }
    commit(1L, Seq("a", "b", "c"), 0)
    commit(2L, Seq("a", "b", "c", "d"), 0)
    // remove the ENTIRE per-partition lineage tree: a fresh reader must
    // answer everything below from the two manifest files alone (the
    // O(parts)-driver-IO seam VERDICT r5 flagged at 10^5+ partitions)
    def rmLineage(snap: Long): Unit = {
      val d = ice.lineageDir(snap)
      if (Files.exists(d)) {
        val s = Files.walk(d)
        try s.sorted(java.util.Comparator.reverseOrder())
          .iterator().forEachRemaining(Files.delete(_))
        finally s.close()
      }
    }
    rmLineage(1L); rmLineage(2L)
    val fresh = new IceLite(root) // no warm cache from the writer
    // stats come from the manifest
    val st = fresh.partStats(2L, "b", "t")
    assert(st.get("v") === Some((100.0, 102.0)))
    // pruning still cuts the scan to the one overlapping partition
    val pruned = fresh.readTablePruned(spark, 2L, "t", "v", 100.0, 102.0)
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("part=b")))
    // the incremental diff (fingerprint compare across two snapshots)
    // also runs manifest-only: only the appended partition is touched
    val inc = fresh.readTableAppended(spark, 1L, 2L, "t")
    assert(inc.inputFiles.nonEmpty &&
      inc.inputFiles.forall(_.contains("part=d")))
  }

  test("TableIO seam: the checkpoint loop runs unchanged against a non-IceLite " +
    "implementation and produces the identical verdict grid") {
    // a minimal in-memory table format standing in for a real Iceberg
    // catalog — proves CheckpointedValidation depends only on the trait
    class MemIO extends graft.io.TableIO {
      val parts = scala.collection.mutable.LinkedHashMap
        .empty[(Long, String), Map[String, org.apache.spark.sql.DataFrame]]
      var committed: Option[(Long, Seq[String])] = None
      def nextSnapshotId: Long = committed.map(_._1 + 1).getOrElse(1L)
      def completedParts(snap: Long): Set[String] =
        parts.keys.collect { case (s, p) if s == snap => p }.toSet
      def commitParts(snap: Long, partCol: String,
          tables: Map[String, org.apache.spark.sql.DataFrame],
          rows: Map[String, Long]): Unit =
        rows.keys.foreach { part =>
          parts((snap, part)) = tables.map { case (n, df) =>
            // "write": pin the partition's materialized result
            n -> df.filter(col(partCol) === part).drop(partCol).cache()
          }
        }
      def commitSnapshot(snap: Long, ps: Seq[String]): Unit =
        committed = Some((snap, ps))
      def readTable(spark: org.apache.spark.sql.SparkSession, snap: Long,
          table: String): org.apache.spark.sql.DataFrame =
        parts.collect { case ((s, _), t) if s == snap => t(table) }
          .reduce(_ unionByName _)
    }
    val mem = new MemIO
    val snap = CheckpointedValidation.run(spark, files, FileRules.rowRules, mem, None)
    val root = freshRoot()
    CheckpointedValidation.run(spark, files, FileRules.rowRules, root)
    val ice = new IceLite(root)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.filterNot(_ == "part").sorted.toIndexedSeq
      df.select(cols.map(col): _*).collect().map(_.mkString("|")).sorted.toIndexedSeq
    }
    assert(canon(mem.readTable(spark, snap, "violations")) ===
      canon(ice.readTable(spark, 1L, "violations")))
    mem.parts.values.foreach(_.values.foreach(_.unpersist()))
  }

  test("manifest-list: appends reference the parent's shard files untouched; " +
    "long chains consolidate; every snapshot still reads its docs") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = freshRoot()
    val ice = new IceLite(root)
    def manifestsOf(snap: Long): Seq[String] =
      (JsonMethods.parse(Files.readString(
        java.nio.file.Paths.get(root, "snapshots", s"v$snap.json"))) \ "manifests")
        .asInstanceOf[JArray].arr.collect { case JString(n) => n }
    // fabricate lineage records directly (driver-only, same format the
    // StorageBench fabricator uses) — 70 appends of one new part each,
    // history carried forward, so the manifest list grows by one shard
    // per append until the MaxManifests consolidation kicks in
    def append(snap: Long, newPart: String, carried: Seq[String]): Unit = {
      val dir = ice.lineageDir(snap)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"$newPart.json"),
        s"""{"snapshot":$snap,"part":"$newPart","op":"ingest","rows":1,""" +
          s""""tables":["t"],"stats":{"t":{"v":{"min":1.0,"max":2.0}}}}""")
      carried.foreach(p => ice.carryForwardPartition(snap, p, snap - 1))
      ice.commitSnapshot(snap, carried :+ newPart)
    }
    var parts = Seq.empty[String]
    // capture snapshot 9's shard mtimes BEFORE the later appends run, so
    // the immutability assertion below actually witnesses that appends
    // 10..70 referenced those files without rewriting them
    var m9mtimes = Map.empty[String, java.nio.file.attribute.FileTime]
    (1 to 70).foreach { i =>
      val np = f"p$i%03d"
      append(i.toLong, np, parts)
      parts = parts :+ np
      if (i == 9) m9mtimes = manifestsOf(9).map(n => n ->
        Files.getLastModifiedTime(
          java.nio.file.Paths.get(root, "manifests", n))).toMap
    }
    // the append chain reused shards: v10 = v9's list + exactly one new
    assert(manifestsOf(10).init === manifestsOf(9))
    // shard files are immutable once referenced: none of snapshot 9's
    // shards were touched by the 61 later appends
    m9mtimes.foreach { case (n, t0) =>
      assert(Files.getLastModifiedTime(
        java.nio.file.Paths.get(root, "manifests", n)) === t0, n)
    }
    // consolidation bounded the list well below the 70-append chain length
    assert(manifestsOf(70).size <= 65)
    assert(manifestsOf(70).size < 70)
    // every part's doc still resolves (and from the manifest path: wipe
    // the whole lineage tree first)
    (1 to 70).foreach { i =>
      val d = ice.lineageDir(i.toLong)
      if (Files.exists(d)) {
        val s = Files.walk(d)
        try s.sorted(java.util.Comparator.reverseOrder())
          .iterator().forEachRemaining(Files.delete(_))
        finally s.close()
      }
    }
    val fresh = new IceLite(root)
    parts.foreach { p =>
      assert(fresh.partStats(70L, p, "t").get("v") === Some((1.0, 2.0)))
    }
    // GC: expiring history drops unreferenced shards but keeps the
    // retained snapshot fully readable
    assert(fresh.expireSnapshots(retain = 1).size === 69)
    val kept = new IceLite(root)
    parts.foreach { p =>
      assert(kept.partStats(70L, p, "t").get("v") === Some((1.0, 2.0)))
    }
    val shardFiles = {
      val s = Files.list(java.nio.file.Paths.get(root, "manifests"))
      try s.count() finally s.close()
    }
    assert(shardFiles === manifestsOf(70).size.toLong)
  }

  test("lineage() audit table survives lineage-tree deletion and " +
    "expireSnapshots (served from manifests)") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.commitPartition(1L, "a", 2L, Map("t" -> (0 until 2).toDF("v")))
    ice.commitPartition(1L, "b", 3L, Map("t" -> (10 until 13).toDF("v")))
    ice.commitSnapshot(1L, Seq("a", "b"))
    ice.commitPartition(2L, "c", 4L, Map("t" -> (20 until 24).toDF("v")))
    ice.carryForwardPartition(2L, "a", 1L)
    ice.carryForwardPartition(2L, "b", 1L)
    ice.commitSnapshot(2L, Seq("a", "b", "c"))
    def audit(inst: IceLite): Map[(Long, String), Long] =
      inst.lineage(spark).select("snapshot", "part", "rows").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val full = Map((1L, "a") -> 2L, (1L, "b") -> 3L,
      (2L, "a") -> 2L, (2L, "b") -> 3L, (2L, "c") -> 4L)
    assert(audit(ice) === full)
    // the IceLiteSpec witness: the whole per-partition lineage tree is
    // dispensable once snapshots committed — the audit must not shrink
    val lt = java.nio.file.Paths.get(root, "lineage")
    val s = Files.walk(lt)
    try s.sorted(java.util.Comparator.reverseOrder())
      .iterator().forEachRemaining(Files.delete(_))
    finally s.close()
    assert(audit(new IceLite(root)) === full)
    // after expiry the audit covers exactly the retained history
    ice.expireSnapshots(retain = 1)
    assert(audit(new IceLite(root)) === full.filter(_._1._1 == 2L))
  }

  test("a resuming ingest refuses another operation's in-progress records " +
    "instead of skipping them as completed work") {
    val root = freshRoot()
    val s1 = CheckpointedValidation.run(spark, files, FileRules.rowRules, root)
    assert(s1 === 1L)
    val ice = new IceLite(root)
    // simulate a compaction that crashed mid-rewrite: the op marker
    // (written FIRST by compactSnapshot) plus one op=compact record
    // under the in-progress id
    val dir = ice.lineageDir(2L)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("_op"), "compact")
    Files.writeString(dir.resolve("stale.json"),
      """{"snapshot":2,"part":"stale","op":"compact","rows":1,""" +
        """"tables":["verdicts"],"stats":{}}""")
    // the marker is invisible to the partition-record listing
    assert(ice.completedParts(2L) === Set("stale"))
    assert(ice.inProgressOp(2L) === Some("compact"))
    val e = intercept[RuntimeException] {
      CheckpointedValidation.run(spark, files, FileRules.rowRules, root)
    }
    assert(e.getMessage.contains("compact"))
    // the remedy works: discard, then the run proceeds
    ice.discardInProgress(2L)
    assert(CheckpointedValidation.run(spark, files, FileRules.rowRules, root) === 2L)
  }

  test("expiry honors data references held by IN-PROGRESS lineage records") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.commitPartition(1L, "p", 2L, Map("t" -> (0 until 2).toDF("v")))
    ice.commitPartition(1L, "q", 2L, Map("t" -> (5 until 7).toDF("v")))
    ice.commitSnapshot(1L, Seq("p", "q"))
    // snapshot 2 recommits both parts with fresh data: nothing COMMITTED
    // references snapshot 1's bytes any more
    ice.commitPartition(2L, "p", 2L, Map("t" -> (10 until 12).toDF("v")))
    ice.commitPartition(2L, "q", 2L, Map("t" -> (15 until 17).toDF("v")))
    ice.commitSnapshot(2L, Seq("p", "q"))
    // an in-progress record (a crashed rewrite) still points at snapshot
    // 1's copy of p — expiry must keep those bytes for the resume/discard
    // decision, while q's unreferenced copy is reclaimed
    val dir = ice.lineageDir(3L)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("p.json"),
      """{"snapshot":3,"part":"p","op":"compact","rows":2,""" +
        """"tables":["t"],"stats":{},"dataSnap":{"t":1}}""")
    assert(ice.expireSnapshots(retain = 1) === Seq(1L))
    val d1 = java.nio.file.Paths.get(root, "data", "snap=1", "t")
    assert(Files.exists(d1.resolve("part=p")))
    assert(!Files.exists(d1.resolve("part=q")))
  }

  test("incremental read catches RECOMMITTED partitions, not just appended " +
    "(lineage fingerprint diff)") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.commitPartition(1L, "a", 3L, Map("t" -> (0 until 3).toDF("v")))
    ice.commitPartition(1L, "b", 3L, Map("t" -> (10 until 13).toDF("v")))
    ice.commitSnapshot(1L, Seq("a", "b"))
    // snapshot 2: 'a' RECOMMITTED with corrected contents, 'b' unchanged
    ice.commitPartition(2L, "a", 4L, Map("t" -> (100 until 104).toDF("v")))
    ice.commitPartition(2L, "b", 3L, Map("t" -> (10 until 13).toDF("v")))
    ice.commitSnapshot(2L, Seq("a", "b"))
    val inc = ice.readTableAppended(spark, 1L, 2L, "t")
    // the corrected partition is part of the diff; unchanged 'b' is not
    assert(inc.select("v").collect().map(_.getInt(0)).sorted.toSeq ===
      Seq(100, 101, 102, 103))
    assert(inc.inputFiles.nonEmpty && inc.inputFiles.forall(_.contains("part=a")))
  }

  test("bucket transform: point lookup plans over exactly one partition " +
    "and equals the full-scan filter") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    // high-cardinality keys incl. hostile chars; the transform must
    // route executor-side rows and driver-side literals identically
    val rows = (0 until 400).map(i => (s"sha${i}x${i * 7}", i.toLong)) ++
      Seq(("key with space", 9000L), ("a+b/c", 9001L))
    val df = rows.toDF("commitsha", "n")
    ice.setBucketSpec("files", "commitsha", 8)
    val parts = ice.ingestBucketed(spark, 1L, "files", df)
    ice.commitSnapshot(1L, parts)
    // every row landed in the bucket the driver-side transform names
    val back = ice.readTable(spark, 1L, "files")
      .select(col("commitsha"), col("part")).collect()
    back.foreach { r =>
      assert(r.getString(1) ===
        s"bucket=${IceLite.bucketOf(r.getString(0), 8)}")
    }
    assert(back.length === rows.size)
    // point lookup: right rows, ONE partition dir in the plan
    val allFiles = ice.readTable(spark, 1L, "files").inputFiles.length
    for (probe <- Seq("sha37x259", "key with space", "a+b/c")) {
      val pt = ice.readTablePoint(spark, 1L, "files", probe)
      val expect = rows.filter(_._1 == probe).map(_._2)
      assert(pt.select("n").collect().map(_.getLong(0)).toSeq === expect)
      val parents = pt.inputFiles.map(f =>
        f.substring(0, f.lastIndexOf('/'))).distinct
      assert(parents.length === 1,
        s"probe $probe planned over ${parents.length} partition dirs")
      assert(pt.inputFiles.length < allFiles,
        "point lookup planned as many files as the full scan")
    }
    // a key that is absent but whose bucket exists: empty, right schema
    val miss = ice.readTablePoint(spark, 1L, "files", "no-such-sha")
    assert(miss.count() === 0)
    assert(miss.columns.contains("commitsha") && miss.columns.contains("n"))
  }

  test("bucketed ingest is crash-resumable: lost buckets reland, committed " +
    "buckets are not rewritten") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.setBucketSpec("t", "k", 4)
    val df = (0 until 100).map(i => (s"k$i", i)).toDF("k", "v")
    val parts = ice.ingestBucketed(spark, 1L, "t", df)
    assert(parts.size === 4)
    // simulate a crash that lost one bucket's commit entirely
    val lost = parts.head
    val lostEnc = lost.replace("=", "%3D")
    Files.delete(ice.lineageDir(1L).resolve(s"$lostEnc.json"))
    val mtimes = parts.tail.map { p =>
      p -> Files.getLastModifiedTime(
        ice.lineageDir(1L).resolve(s"${p.replace("=", "%3D")}.json"))
    }.toMap
    val again = ice.ingestBucketed(spark, 1L, "t", df)
    assert(again.toSet === parts.toSet)
    // committed buckets kept their original lineage record (no rewrite)
    mtimes.foreach { case (p, t0) =>
      assert(Files.getLastModifiedTime(
        ice.lineageDir(1L).resolve(s"${p.replace("=", "%3D")}.json")) === t0,
        s"bucket $p was recommitted on resume")
    }
    ice.commitSnapshot(1L, again)
    assert(ice.readTable(spark, 1L, "t").count() === 100)
  }

  test("bucketed ingest writes parquet bloom filters for the requested " +
    "columns (row-group pruning inside a bucket)") {
    import spark.implicits._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.setBucketSpec("t", "k", 2)
    val df = (0 until 1000).map(i => (s"key$i", i)).toDF("k", "v")
    val parts = ice.ingestBucketed(spark, 1L, "t", df, bloomColumns = Seq("k"))
    ice.commitSnapshot(1L, parts)
    val dataDir = java.nio.file.Paths.get(
      ice.partDataDir(1L, "t", parts.head))
    val pq = Files.list(dataDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    val hconf = spark.sessionState.newHadoopConf()
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(pq.toUri), hconf))
    try {
      val block = r.getFooter.getBlocks.asScala.head
      val kCol = block.getColumns.asScala
        .find(_.getPath.toDotString == "k").get
      val vCol = block.getColumns.asScala
        .find(_.getPath.toDotString == "v").get
      assert(r.getBloomFilterDataReader(block).readBloomFilter(kCol) != null,
        "no bloom filter written for requested column k")
      assert(r.getBloomFilterDataReader(block).readBloomFilter(vCol) == null,
        "bloom filter written for a column that did not request one")
    } finally r.close()
  }

  test("schema evolution: columns added across appends reconcile with " +
    "typed NULLs; compaction carries the era ledger") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    // era 1: (id, name)
    ice.commitPartition(1L, "old", 2L,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "name")))
    ice.commitSnapshot(1L, Seq("old"))
    // era 2: (id, name, license) appended; history carried forward
    ice.commitPartition(2L, "new", 2L,
      Map("t" -> Seq((3L, "c", "mit"), (4L, "d", "gpl"))
        .toDF("id", "name", "license")))
    ice.carryForwardPartition(2L, "old", 1L)
    ice.commitSnapshot(2L, Seq("old", "new"))
    val ev = ice.readTable(spark, 2L, "t")
    assert(ev.columns.toSet === Set("id", "name", "license", "part"))
    val got = ev.select("id", "license").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got === Map(1L -> None, 2L -> None,
      3L -> Some("mit"), 4L -> Some("gpl")))
    // a single-era read has only its own columns
    assert(ice.readTable(spark, 1L, "t").columns.toSet ===
      Set("id", "name", "part"))
    // a compaction rewrite keeps each partition's schema era readable
    val c = ice.compactSnapshot(spark)
    val ev2 = ice.readTable(spark, c, "t")
    assert(ev2.count() === 4)
    assert(ev2.filter(col("license").isNull).count() === 2)
  }

  test("mixed-era compaction must not lose a newer era's column " +
    "(era-aware rewrite grouping)") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    // two small-file partitions in ONE (table, src) compaction bucket;
    // "a" sorts first so a non-era-aware single read would infer the
    // 2-column schema and rewrite "b" without its extra column
    ice.commitPartition(1L, "a", 4L, Map("t" ->
      (0 until 4).map(i => (i.toLong, "a")).toDF("doc_id", "part_name")
        .repartition(2)))
    ice.commitPartition(1L, "b", 4L, Map("t" ->
      (10 until 14).map(i => (i.toLong, "b", s"x$i"))
        .toDF("doc_id", "part_name", "extra").repartition(2)))
    ice.commitSnapshot(1L, Seq("a", "b"))
    val c = ice.compactSnapshot(spark, targetFileBytes = 1L << 20)
    val ev = ice.readTable(spark, c, "t")
    assert(ev.columns.contains("extra"),
      "compaction lost the era-B column entirely")
    val bVals = ev.filter(col("part") === "b")
      .select("extra").collect().map(_.getString(0)).sorted
    assert(bVals === Array("x10", "x11", "x12", "x13"),
      "compaction corrupted era-B extra values")
    assert(ev.filter(col("part") === "a" && col("extra").isNotNull)
      .count() === 0)
  }

  test("row-level delete rewrites only partitions that can match; NULL " +
    "predicate rows are kept; emptied partitions stay readable") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.commitPartition(1L, "plow", 5L, Map("t" ->
      Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (3L, "c"),
        (4L, "d"), (null, "n")).toDF("v", "s")))
    ice.commitPartition(1L, "phigh", 4L, Map("t" ->
      Seq((10L, "j"), (11L, "k"), (12L, "l"), (13L, "m")).toDF("v", "s")))
    ice.commitSnapshot(1L, Seq("phigh", "plow"))
    val n = ice.deleteWhere(spark, "t", col("v") === 11,
      Seq(("v", 11.0, 11.0)))
    // plow's stats [1,4] cannot overlap 11: carried by reference —
    // no new record, no data IO
    assert(ice.completedParts(n) === Set("phigh"))
    val back = ice.readTable(spark, n, "t")
    assert(back.count() === 8)
    assert(back.filter(col("v") === 11).count() === 0)
    // SQL DELETE null semantics: pred NULL -> row KEPT
    assert(back.filter(col("v").isNull).count() === 1)
    val newFiles = back.inputFiles.filter(_.contains(s"snap=$n"))
    assert(newFiles.nonEmpty && newFiles.forall(_.contains("part=phigh")))
    assert(back.inputFiles.exists(_.contains("snap=1")),
      "pruned partition not served from its original bytes")
    // empty the whole high partition: the directory must stay readable
    val n2 = ice.deleteWhere(spark, "t", col("v") >= 10,
      Seq(("v", 10.0, 13.0)))
    val back2 = ice.readTable(spark, n2, "t")
    assert(back2.count() === 5)
    assert(back2.filter(col("v") >= 10).count() === 0)
  }

  test("ingestPartitionedTables lands value partitions from one job; " +
    "hostile values round-trip Spark's path escaping") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "c/d"), (4L, "100"))
      .toDF("v", "g")
    val parts = ice.ingestPartitionedTables(spark, 1L, "g", Map("t" -> df))
    assert(parts.toSet === Set("a b", "c/d", "100"))
    ice.commitSnapshot(1L, parts)
    val back = ice.readTable(spark, 1L, "t")
    assert(back.count() === 4)
    assert(back.columns.toSet === Set("v", "part")) // g lives in the name
    assert(back.filter(col("part") === "c/d")
      .select("v").collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(back.filter(col("part") === "a b").count() === 2)
  }

  test("mergeRows upserts by the bucket key: matched keys replace " +
    "(delete-then-insert), new keys insert, untouched buckets carry") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.setBucketSpec("t", "k", 8)
    val base = (0 until 64).map(i => (s"k$i", i.toLong)).toDF("k", "n")
    ice.commitSnapshot(1L, ice.ingestBucketed(spark, 1L, "t", base))
    // a key with TWO update rows: delete-then-insert keeps both
    val n2 = ice.mergeRows(spark, "t",
      Seq(("k7", 1007L), ("k7", 2007L)).toDF("k", "n"))
    val afterDup = ice.readTable(spark, n2, "t")
    assert(afterDup.filter(col("k") === "k7")
      .select("n").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1007L, 2007L))
    assert(afterDup.count() === 65) // 63 untouched + 2 rows for k7
    // second merge: replace one key, insert a brand-new one
    val n3 = ice.mergeRows(spark, "t",
      Seq(("k3", 9003L), ("brand-new", 999L)).toDF("k", "n"))
    val back = ice.readTable(spark, n3, "t")
    assert(back.filter(col("k") === "k3")
      .select("n").collect().map(_.getLong(0)).toSeq === Seq(9003L))
    assert(back.filter(col("k") === "brand-new").count() === 1)
    assert(back.count() === 66)
    // untouched buckets are served by reference from older snapshots
    assert(back.inputFiles.exists(f =>
      f.contains("snap=1/") || f.contains(s"snap=$n2/")),
      "untouched buckets were rewritten instead of carried")
    val rewritten = ice.completedParts(n3)
    val expect = Set("k3", "brand-new")
      .map(v => s"bucket=${IceLite.bucketOf(v, 8)}")
    assert(rewritten === expect,
      s"merge rewrote $rewritten, expected only $expect")
  }

  test("evolved read of an all-legacy table (no schema records) merges " +
    "footers instead of trusting one") {
    import spark.implicits._
    import org.json4s.jackson.JsonMethods
    import org.json4s._
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.commitPartition(1L, "a", 2L,
      Map("t" -> Seq((1L, "x"), (2L, "y")).toDF("id", "s")))
    ice.commitPartition(1L, "b", 1L,
      Map("t" -> Seq((3L, "z", "mit")).toDF("id", "s", "lic")))
    // simulate pre-capture records: strip the schema ledger before the
    // manifest folds the docs
    Seq("a", "b").foreach { part =>
      val f = ice.lineageDir(1L).resolve(s"$part.json")
      val doc = JsonMethods.parse(Files.readString(f)) match {
        case JObject(fs) => JObject(fs.filterNot(_._1 == "schemas"))
        case other => other
      }
      Files.writeString(f, JsonMethods.compact(JsonMethods.render(doc)))
    }
    ice.commitSnapshot(1L, Seq("a", "b"))
    val ev = ice.readTable(spark, 1L, "t")
    assert(ev.columns.contains("lic"),
      "single-legacy-era read dropped a column footer inference missed")
    assert(ev.filter(col("lic").isNotNull).count() === 1)
    assert(ev.count() === 3)
  }

  test("setBucketSpec refuses a table that already holds non-bucket data; " +
    "point reads over mixed layouts fall back to full scan") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.commitPartition(1L, "org1", 1L,
      Map("files" -> Seq(("sha1", 1L)).toDF("k", "n")))
    ice.commitSnapshot(1L, Seq("org1"))
    intercept[IllegalArgumentException] {
      ice.setBucketSpec("files", "k", 8)
    }
    // an unrelated table in the same root is still free to bucket
    ice.setBucketSpec("other", "k", 8)
    // mixed layout built by hand (spec first, then a manual non-bucket
    // partition in a later snapshot): point lookup must not lose rows
    val root2 = freshRoot()
    val ice2 = new IceLite(root2)
    ice2.setBucketSpec("t", "k", 4)
    ice2.commitSnapshot(1L, ice2.ingestBucketed(spark, 1L, "t",
      (0 until 20).map(i => (s"k$i", i)).toDF("k", "v")))
    ice2.commitPartition(2L, "manual", 1L,
      Map("t" -> Seq(("stray", 999)).toDF("k", "v")))
    ice2.snapshotParts(1L).foreach(p => ice2.carryForwardPartition(2L, p, 1L))
    ice2.commitSnapshot(2L, ice2.snapshotParts(1L) :+ "manual")
    val hit = ice2.readTablePoint(spark, 2L, "t", "stray")
    assert(hit.select("v").collect().map(_.getInt(0)).toSeq === Seq(999),
      "mixed-layout point read silently missed an unrouted row")
    // and mergeRows refuses the mixed layout loudly
    intercept[IllegalArgumentException] {
      ice2.mergeRows(spark, "t", Seq(("k1", 100)).toDF("k", "v"))
    }
    ice2.discardInProgress(3L) // drop the refused merge's op marker
  }

  test("mergeRows refuses a bucket partition that co-locates other tables " +
    "(their bytes would be lost to expiry)") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.setBucketSpec("t", "k", 2)
    val k0 = s"bucket=${IceLite.bucketOf("a", 2)}"
    ice.commitPartition(1L, k0, 1L, Map(
      "t" -> Seq(("a", 1)).toDF("k", "v"),
      "side" -> Seq((1, 2)).toDF("x", "y")))
    ice.commitSnapshot(1L, Seq(k0))
    intercept[IllegalArgumentException] {
      ice.mergeRows(spark, "t", Seq(("a", 9)).toDF("k", "v"))
    }
    ice.discardInProgress(2L)
  }

  test("schema ledger is interned: records carry a 16-hex ref, the JSON " +
    "lives once under schemas/, and resolution survives the manifest") {
    import spark.implicits._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.commitPartition(1L, "p1", 1L, Map("t" -> Seq((1L, "a")).toDF("id", "s")))
    ice.commitPartition(1L, "p2", 1L, Map("t" -> Seq((2L, "b")).toDF("id", "s")))
    val ref = (JsonMethods.parse(Files.readString(
      ice.lineageDir(1L).resolve("p1.json"))) \ "schemas" \ "t")
      .extract[String]
    assert(ref.matches("[0-9a-f]{16}"), s"expected interned ref, got $ref")
    assert(Files.exists(java.nio.file.Paths.get(root, "schemas", s"$ref.json")))
    // identical schemas share ONE interned file
    val ref2 = (JsonMethods.parse(Files.readString(
      ice.lineageDir(1L).resolve("p2.json"))) \ "schemas" \ "t")
      .extract[String]
    assert(ref2 === ref)
    ice.commitSnapshot(1L, Seq("p1", "p2"))
    val resolved = ice.partSchemaJson(1L, "p1", "t")
    assert(resolved.exists(_.contains("\"id\"")),
      s"ref did not resolve through the manifest: $resolved")
  }

  test("time travel by timestamp resolves to the newest snapshot published " +
    "at or before the instant") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.commitPartition(1L, "p", 1L, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    ice.commitSnapshot(1L, Seq("p"))
    val afterFirst = System.currentTimeMillis()
    Thread.sleep(25) // mtime granularity
    ice.commitPartition(2L, "p", 1L, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    ice.commitSnapshot(2L, Seq("p"))
    assert(ice.snapshotAsOf(afterFirst) === Some(1L))
    assert(ice.snapshotAsOf(System.currentTimeMillis()) === Some(2L))
    assert(ice.snapshotAsOf(afterFirst - 60000) === None)
    // retention wins over timestamp: expired history is unreachable
    ice.expireSnapshots(retain = 1)
    assert(ice.snapshotAsOf(afterFirst) === None)
  }

  test("schema evolution: a column typed differently across eras widens " +
    "(int -> long)") {
    import spark.implicits._
    val root = freshRoot()
    val ice = new IceLite(root)
    ice.commitPartition(1L, "p32", 2L,
      Map("t" -> Seq((1, "x"), (2, "y")).toDF("n", "s")))
    ice.commitSnapshot(1L, Seq("p32"))
    ice.commitPartition(2L, "p64", 1L,
      Map("t" -> Seq((5000000000L, "z")).toDF("n", "s")))
    ice.carryForwardPartition(2L, "p32", 1L)
    ice.commitSnapshot(2L, Seq("p32", "p64"))
    val ev = ice.readTable(spark, 2L, "t")
    assert(ev.schema("n").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(ev.select(sum("n")).collect()(0).getLong(0) === 5000000003L)
  }
}
