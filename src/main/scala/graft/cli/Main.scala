package graft.cli

import graft.model.FileRow
import graft.rules.{FileRules, Required, Pattern => RxRule, EnumIn, Sha256Invariant, TypeIs, Check}
import graft.validate.CheckpointedValidation
import org.apache.spark.sql.SparkSession

/** CLI mirroring sifter's entry points (SURVEY.md §3):
  *
  *  - `run <filesParquet> <outRoot>` — execute a validation snapshot
  *    (resumable)
  *  - `run-yaml <playbook.yaml> [k=v ...]` — execute a reference-style
  *    YAML playbook with optional param overrides: the literal analog
  *    of `sifter run playbook.yaml -p k=v` (cmd/run/main.go:19-61)
  *  - `inspect` — print the compiled rule set, input schema, and output
  *    tables without executing (the analog of `sifter inspect`,
  *    cmd/inspect/main.go:18-78: static metadata only)
  *
  * spark-submit-able: `spark-submit --class graft.cli.Main <jar> run ...`;
  * outside spark-submit a local session is created.
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "inspect" :: Nil => inspect()
    case "inspect-yaml" :: pb :: params => inspectYaml(pb, params)
    case "run" :: files :: out :: Nil => run(files, out)
    case "run-yaml" :: pb :: params => runYaml(pb, params)
    case _ =>
      System.err.println(
        """usage:
          |  graft.cli.Main inspect
          |  graft.cli.Main inspect-yaml <playbook.yaml> [param=value ...]
          |  graft.cli.Main run <filesParquet> <outRoot>
          |  graft.cli.Main run-yaml <playbook.yaml> [param=value ...]""".stripMargin)
      sys.exit(2)
  }

  /** `sifter inspect playbook.yaml` analog: required params + resolved
    * output paths as JSON, statically (no Spark session, no execution —
    * cmd/inspect/main.go:18-78). */
  def inspectYaml(playbookPath: String, params: Seq[String]): Unit =
    println(graft.pipeline.YamlPlaybook.inspectFile(playbookPath,
      parseParams(params)))

  private def parseParams(params: Seq[String]): Map[String, String] =
    params.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => sys.error(s"bad param '$kv' (expected k=v)")
      }
    }.toMap

  def inspect(): Unit = {
    println("input schema:")
    FileRow.schema.fields.foreach(f => println(s"  ${f.name}: ${f.dataType.sql}"))
    println("row rules:")
    FileRules.rowRules.foreach { r =>
      val desc = r match {
        case Required(id, c) => s"$id: required($c)"
        case RxRule(id, c, rx) => s"$id: pattern($c, '$rx')"
        case EnumIn(id, c, vs) => s"$id: enum($c, ${vs.mkString("|")})"
        case Sha256Invariant(id, c, of) => s"$id: $c == sha256($of)"
        case TypeIs(id, c, dt) => s"$id: castable($c, ${dt.sql})"
        case Check(id, c, _) => s"$id: check($c)"
      }
      println(s"  $desc")
    }
    println(s"table rules:")
    println(s"  ${FileRules.unique.id}: unique(${FileRules.unique.columns.mkString(",")})")
    println(s"  ${FileRules.ref.id}: ${FileRules.ref.column} in " +
      s"${FileRules.ref.refName}.${FileRules.ref.refKey}")
    println(s"  ${FileRules.drift.id}: ks(length(${FileRules.drift.column})" +
      s"/${FileRules.drift.bucketWidth}) <= ${FileRules.drift.maxKs}")
    println("outputs: verdicts, violations, metrics, lineage (IceLite snapshots)")
  }

  /** GraftSession's knobs (AQE, skew-join, split sizing, UTC, zstd
    * shuffle/broadcast/spill compression, extensions); master comes from
    * spark-submit or defaults local. The zstd settings are per
    * SparkContext, so an embedding's running context keeps its own codec.
    * Only stops the session if THIS call created it (library embedding
    * keeps its own session alive). One definition so a future session
    * knob can't drift between the two run modes. */
  private def withSession(appName: String)(body: SparkSession => Unit): Unit = {
    val preexisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = graft.GraftSession
      .builder(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
        Runtime.getRuntime.availableProcessors())
      .appName(appName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark) finally if (!preexisting) spark.stop()
  }

  def run(filesPath: String, outRoot: String): Unit =
    withSession("sifterspark-run") { spark =>
      val files = spark.read.parquet(filesPath)
      val snap = CheckpointedValidation.run(spark, files, FileRules.rowRules, outRoot)
      val v = CheckpointedValidation.verdicts(spark, outRoot, snap)
      val failed = v.filter(!org.apache.spark.sql.functions.col("pass")).count()
      println(s"snapshot $snap committed: ${v.count()} verdict cells, $failed failing")
    }

  /** `sifter run playbook.yaml -p k=v` analog. */
  def runYaml(playbookPath: String, params: Seq[String]): Unit = {
    val overrides = parseParams(params)
    withSession("sifterspark-run-yaml") { spark =>
      val loaded = graft.pipeline.YamlPlaybook.loadFile(playbookPath, overrides)
      // resolve each output ourselves and persist before the sink, so
      // the count and the write share ONE computation of the pipeline
      // (Playbook.run + a post-hoc count would re-derive everything)
      loaded.playbook.outputs.foreach { case (name, (src, sink)) =>
        val df = loaded.playbook.resolve(spark, src)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val n = df.count()
          sink(df)
          println(s"output '$name': $n rows")
        } finally df.unpersist(blocking = false)
      }
      // the reference's Close()-time summary lines (lookup hit/miss,
      // transform/lookup.go:118-120; per-class Validation Summary,
      // transform/object_validate.go:86) — observed on the jobs above,
      // zero extra passes; stderr so stdout sinks stay parseable
      loaded.counters.snapshot().toSeq.sortBy(_._1).foreach { case (op, ms) =>
        Console.err.println(s"[counters] $op: " +
          ms.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
      }
    }
  }
}
