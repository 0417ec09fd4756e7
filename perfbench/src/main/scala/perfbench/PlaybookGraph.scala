package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPInputStream
import scala.jdk.CollectionConverters._
import graft.graph.GraphEmit
import graft.pipeline.{Pipeline, YamlPlaybook}
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `playbook_graph`: a Sifter-shaped YAML playbook over NDJSON (project,
  * lookup against a TSV repo manifest, sha256 hash, objectValidate with
  * a `links` edge to the repo, distinct) writing a graph output and a
  * table output, then graphcheck over the written graph plus the repo
  * vertices. */
final class PlaybookGraph(spark: SparkSession, dir: String, spec: Spec, tr: Tracer)
    extends Workload {

  // the plain-Scala tally runs while Spark tasks write the input
  private val tallyF = Tally.async(spec)
  val ndjsonDir = s"$dir/files.ndjson"
  Inputs.filesFrame(spark, spec).drop("content_sha256", "batch").write.json(ndjsonDir)
  val ndjsonBytes: Long = Inputs.du(ndjsonDir)._1
  val tally: Tally = Tally.await(tallyF)
  Inputs.write(Paths.get(dir, "manifest.tsv"),
    Gen.manifestRepos(spec).map(r => s"$r\t${Gen.repoId(r)}\n").mkString)
  Inputs.write(Paths.get(dir, "schemas", "File.yaml"), PlaybookGraph.FileSchema)
  Inputs.write(Paths.get(dir, "schemas", "Repo.yaml"), PlaybookGraph.RepoSchema)
  val playbookPath: Path = Inputs.write(Paths.get(dir, "playbook.yaml"), PlaybookGraph.Playbook)
  val outDir = s"$dir/out"
  private val repoVertices = {
    import spark.implicits._
    Gen.manifestRepos(spec).map(r => s"Repo/${Gen.repoId(r)}").toDF("_id")
  }

  def rows: Long = tally.rows

  private var counters = Map.empty[String, Map[String, Long]]
  private var orphanFroms = Set.empty[String]

  def op(): Unit = {
    val loaded = tr.span("pipeline.load")(YamlPlaybook.loadFile(playbookPath.toString))
    tr.span("pipeline.run")(loaded.playbook.run(spark))
    counters = loaded.counters.snapshot()
    orphanFroms = tr.span("graph.orphans") {
      val edges = Sources.ndjson(spark, s"$outDir/graph/edge.json")
      val vertices = Sources.ndjson(spark, s"$outDir/graph/vertex.json").select("_id")
        .unionByName(repoVertices)
      GraphEmit.orphanEdges(edges, vertices).select("_from").collect().map(_.getString(0)).toSet
    }
  }

  private def lines(dir: String, suffix: String): Iterator[String] = {
    val s = Files.list(Paths.get(dir))
    val parts = try s.iterator().asScala.filter(_.getFileName.toString.endsWith(suffix)).toList
    finally s.close()
    parts.iterator.flatMap { p =>
      val in = Files.newInputStream(p)
      val r = new BufferedReader(new InputStreamReader(
        if (suffix.endsWith(".gz")) new GZIPInputStream(in) else in, UTF_8))
      Iterator.continually(r.readLine()).takeWhile { l =>
        if (l == null) r.close(); l != null
      }
    }
  }

  def check(): Seq[String] = {
    val t = tally
    val out = Seq.newBuilder[String]
    def expect(what: String, ok: Boolean): Unit = if (!ok) out += what
    val validate = counters.collectFirst { case (k, v) if k.startsWith("objectValidate:") => v }
    expect(s"objectValidate counters $validate, want ${t.validateErrors} errors of ${t.rows}",
      validate.exists(v => v.get("errorCount").contains(t.validateErrors) &&
        v.get("validationCount").contains(t.rows)))
    val lookup = counters.collectFirst { case (k, v) if k.startsWith("lookup:") => v }
    expect(s"lookup counters $lookup, want ${t.lookupHits} hits, ${t.lookupMisses} misses",
      lookup.exists(v => v.get("hit").contains(t.lookupHits) && v.get("miss").contains(t.lookupMisses)))
    val nVertices = lines(s"$outDir/graph/vertex.json", ".json.gz").size
    val nEdges = lines(s"$outDir/graph/edge.json", ".json.gz").size
    val want = t.validDistinct.size
    expect(s"$nVertices vertices, $nEdges edges, want $want of each", nVertices == want && nEdges == want)
    expect(s"${orphanFroms.size} orphan edges, want ${t.orphanEdgeIds.size}",
      orphanFroms == t.orphanEdgeIds.map("File/" + _).toSet)
    // table: a header per part file, then id, repo, path, lang, digest
    var dataLines = 0L
    var sampled = 0
    lines(s"$outDir/files.tsv", ".csv").foreach { l =>
      if (!l.startsWith("id\t")) {
        dataLines += 1
        val f = l.split("\t", -1)
        val i = f(0).stripPrefix("f").toLong
        if (Math.floorMod(Gen.hash(spec.seed, i, 9), 200L) == 0) {
          sampled += 1
          val content = Gen.rowsAt(spec, i).head.content
          expect(s"digest of ${f(0)}", f(4) == Gen.sha256Hex(content))
        }
      }
    }
    expect(s"table has $dataLines data lines, want $nVertices", dataLines == nVertices)
    expect("no table row was sampled for the digest check", sampled > 0)
    out.result()
  }

  /** Traced-only decomposition: the pipeline's step prefixes forced
    * one after another, then vertex and edge derivation, then the two
    * sinks on their own. Returns seconds per layer. */
  def tracePrefixes(): Map[String, Double] = {
    val loaded = YamlPlaybook.loadFile(playbookPath.toString)
    val pipe = loaded.playbook.pipelines("clean")
    val input = () => loaded.playbook.inputs(pipe.from)(spark)
    def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      tr.span(name)(f)
      (System.nanoTime() - t0) / 1e9
    }
    val names = pipe.steps.map(_._1)
    val prefix = (0 to pipe.steps.size).map { k =>
      val label = if (k == 0) "sources.ndjson" else s"pipeline.prefix.${names(k - 1)}"
      timed(label)(force(Pipeline(pipe.from, pipe.steps.take(k))(input())))
    }
    val stepS = names.zipWithIndex.map { case (n, k) =>
      s"pipeline.step.${if (n == "objectValidate") "validate" else n}.s" -> (prefix(k + 1) - prefix(k))
    }
    val full = () => pipe(input())
    val cls = graft.rules.SchemaLoader.loadDir(s"$dir/schemas")("File")
    val vertices = (df: DataFrame) =>
      GraphEmit.schemaVertices(df, cls, "id", df.columns.toIndexedSeq.filterNot(Set("_id", "_label")))
    val vS = timed("graph.vertices")(force(vertices(full())))
    val eS = timed("graph.edges")(force(GraphEmit.schemaEdges(full(), cls, "id")))
    val tableCols = Seq("id", "repo", "path", "lang", "digest")
    val gS = timed("sinks.graph")(graft.sinks.Sinks.graph(vertices(full()),
      GraphEmit.schemaEdges(full(), cls, "id"), s"$dir/trace-graph"))
    val tS = timed("sinks.table")(graft.sinks.Sinks.table(full(), s"$dir/trace-table", tableCols))
    val full0 = prefix.last
    Map("sources.ndjson.s" -> prefix.head) ++ stepS ++ Map(
      "graph.vertices.s" -> (vS - full0), "graph.edges.s" -> (eS - full0),
      "sinks.graph.s" -> (gS - vS - eS), "sinks.table.s" -> (tS - full0),
      "sinks.graph.mb" -> Inputs.du(s"$dir/trace-graph")._1 / 1e6,
      "sinks.table.mb" -> Inputs.du(s"$dir/trace-table")._1 / 1e6)
  }
}

object PlaybookGraph {
  val FileSchema: String =
    """$id: File
      |title: File
      |required: [id, repo, path, commit, lang]
      |properties:
      |  id: {type: string}
      |  repo: {type: string, pattern: "^[A-Za-z0-9._-]+/[A-Za-z0-9._-]+$"}
      |  path: {type: string, pattern: "^src/[A-Za-z0-9_./-]+$"}
      |  commit: {type: string, pattern: "^[0-9a-f]{7,40}$"}
      |  lang: {type: string, enum: [en, fr, es, de, zh]}
      |  repo_id: {type: string}
      |  digest: {type: string}
      |links:
      |  - rel: in_repo
      |    href: "Repo/{repo_id}"
      |    templateRequired: [repo_id]
      |    targetSchema: {$ref: Repo.yaml}
      |""".stripMargin

  val RepoSchema: String =
    """$id: Repo
      |title: Repo
      |required: [id]
      |properties:
      |  id: {type: string}
      |""".stripMargin

  // the trace names each step after its YAML key (pipeline.step.<key>.s,
  // objectValidate reported as `validate`)
  val Playbook: String =
    """name: perfbench-files
      |outdir: out
      |params:
      |  files:
      |    type: File
      |    default: files.ndjson
      |  manifest:
      |    type: File
      |    default: manifest.tsv
      |inputs:
      |  files:
      |    json:
      |      path: "{{params.files}}"
      |pipelines:
      |  clean:
      |    - from: files
      |    - project:
      |        mapping:
      |          repo_id: "{{repo}}"
      |    - lookup:
      |        replace: repo_id
      |        tsv:
      |          input: "{{params.manifest}}"
      |          header: [repo, repo_id]
      |          key: repo
      |          value: repo_id
      |    - hash:
      |        field: digest
      |        value: "{{content}}"
      |        method: sha256
      |    - objectValidate:
      |        title: File
      |        schema: schemas
      |    - distinct:
      |        value: "{{repo}}{{path}}{{commit}}"
      |outputs:
      |  graph:
      |    graph:
      |      from: clean
      |      schema: schemas
      |      title: File
      |      path: graph
      |  table:
      |    table:
      |      from: clean
      |      path: files.tsv
      |      columns: [id, repo, path, lang, digest]
      |""".stripMargin
}
