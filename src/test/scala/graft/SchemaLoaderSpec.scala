package graft

import java.nio.file.{Files, Paths}
import graft.graph.GraphEmit
import graft.rules._
import graft.validate.Violations
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** YAML schema-class loading + compilation (the sifter user's migration
  * path: point the engine at an existing schema directory). */
class SchemaLoaderSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  val yaml: String =
    """$schema: https://json-schema.org/draft/2020-12/schema
      |$id: file
      |title: File
      |required:
      |- id
      |- repo_id
      |- size
      |links:
      |- rel: repos
      |  href: repo/{repo_id}
      |  templateRequired:
      |  - repo_id
      |  targetSchema:
      |    $ref: repo.yaml
      |  targetHints:
      |    multiplicity:
      |    - has_many
      |    backref:
      |    - files
      |properties:
      |  id:
      |    type: string
      |    pattern: '^f[0-9]+$'
      |  repo_id:
      |    type: string
      |  lang:
      |    type:
      |    - 'null'
      |    - string
      |    enum: [scala, go]
      |  size:
      |    type: integer
      |""".stripMargin

  lazy val cls = SchemaLoader.loadClassYaml(yaml)

  test("parses id/required/properties/links from sifter-shaped YAML") {
    assert(cls.id === "file")
    assert(cls.required === Seq("id", "repo_id", "size"))
    assert(cls.properties("lang").types === Seq("null", "string"))
    assert(cls.properties("lang").enumVals === Seq("scala", "go"))
    assert(cls.properties("id").pattern === Some("^f[0-9]+$"))
    val link = cls.links.head
    assert((link.rel, link.targetClass, link.href) === ("repos", "repo", "repo/{repo_id}"))
    assert(link.backref === Some("files"))
  }

  test("compiled rules reproduce objectValidate semantics on rows") {
    val df = Seq(
      ("f1", "r1", "scala", "10"),   // clean
      (null, "r1", "go", "11"),      // required_id
      ("x2", "r1", "scala", "12"),   // pattern_id
      ("f3", "r1", "klingon", "13"), // enum_lang
      ("f4", "r1", null, "14"),      // lang null allowed (union type)
      ("f5", "r1", "go", "big"))     // type_size
      .toDF("id", "repo_id", "lang", "size")
    val rules = SchemaLoader.compileRules(cls, df.columns.toSet)
    assert(rules.map(_.id).toSet === Set(
      "file.required_id", "file.required_repo_id", "file.required_size",
      "file.pattern_id", "file.enum_lang", "file.type_size"))
    val v = Violations.extract(df, rules, keyCols = Seq("id"))
      .select("rule_id").collect().map(_.getString(0)).sorted.toSeq
    assert(v === Seq("file.enum_lang", "file.pattern_id", "file.required_id",
      "file.type_size"))
  }

  test("a name listed twice under required compiles to one rule, which " +
    "verdicts accept") {
    val twice = SchemaLoader.loadClassYaml("$id: file\nrequired: [repo, repo, lang]\n")
    val rules = SchemaLoader.compileRules(twice, Set("repo", "lang"))
    assert(rules.map(_.id) === Seq("file.required_repo", "file.required_lang"))
    val df = Seq(("o/r", "en"), (null, "en"), ("o/r", null)).toDF("repo", "lang")
    val cells = graft.validate.Verdicts.compute(spark, df, rules).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells === Map(("o", "file.required_repo") -> 0L, ("o", "file.required_lang") -> 1L,
      ("__null__", "file.required_repo") -> 1L, ("__null__", "file.required_lang") -> 0L))
  }

  test("schema-driven graph emission renders href targets; orphans detected") {
    val files = Seq(("f1", "r1"), ("f2", "r1"), ("f3", "rMISSING"))
      .toDF("id", "repo_id")
    val repos = Seq("r1").toDF("id")
    val edges = GraphEmit.schemaEdges(files, cls)
    assert(edges.count() === 3)
    assert(edges.filter(col("_to") === "repo/r1").count() === 2)
    val repoCls = SchemaLoader.loadClassYaml("$id: repo\ntitle: Repo\n")
    // graphcheck probes BOTH endpoints, so the vertex set must be the
    // union of all classes — file vertices included, or every _from
    // would (correctly) count as dangling
    val verts = GraphEmit.schemaVertices(repos, repoCls)
      .unionByName(GraphEmit.schemaVertices(files.select("id"), cls))
    val orphans = GraphEmit.orphanEdges(edges, verts)
    assert(orphans.collect().map(_.getAs[String]("_to")).toSeq === Seq("repo/rMISSING"))
  }

  test("multi-variable templatePointers: array pointers zip in lockstep, " +
    "scalars broadcast per row (output_graph.go:160-184 generator loop)") {
    import graft.rules.SchemaLoader.{LinkSpec, SchemaClass}
    val cls2 = SchemaClass("sample", "Sample", Seq.empty, Map.empty, Seq(
      LinkSpec("aliquots", "aliquot/{proj}/{aid}/{center}", "aliquot",
        templateRequired = Seq("aid", "proj"), backref = None, multiplicity = None,
        templatePointers = Map(
          "aid" -> "/aliquots/-/id",   // array pointer 1
          "proj" -> "/projects/-",     // array pointer 2 (bare elements)
          "center" -> "/meta/center")) // scalar pointer
    ))
    val df = Seq(
      // 2 aliquots zip with 2 projects -> 2 edges
      ("s1", Seq("a1", "a2"), Seq("p1", "p2"), "c1"),
      // ragged: 2 aliquots, 1 project -> zip pads with null, the
      // templateRequired filter drops the padded edge -> 1 edge
      ("s2", Seq("a3", "a4"), Seq("p3"), "c2"),
      // aliquot id null -> dropped by templateRequired
      ("s3", Seq(null.asInstanceOf[String]), Seq("p4"), "c3"))
      .toDF("id", "aliquot_ids", "project_ids", "center")
      .select(col("id"),
        expr("transform(aliquot_ids, x -> named_struct('id', x))").as("aliquots"),
        col("project_ids").as("projects"),
        struct(col("center")).as("meta"))
    val edges = GraphEmit.schemaEdges(df, cls2)
    val got = edges.select("_from", "_to").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got === Seq(
      ("sample/s1", "aliquot/p1/a1/c1"),
      ("sample/s1", "aliquot/p2/a2/c1"),
      ("sample/s2", "aliquot/p3/a3/c2")))
    // plan stays a narrow projection: no join introduced by the zip
    assert(!edges.queryExecution.optimizedPlan.toString.contains("Join"))
  }

  test("multi-pointer zip: a missing (null) array behaves exactly like an " +
    "empty one (arrays_zip null-intolerance guarded)") {
    import graft.rules.SchemaLoader.{LinkSpec, SchemaClass}
    val cls2 = SchemaClass("s", "S", Seq.empty, Map.empty, Seq(
      LinkSpec("r", "t/{a}/{b}", "t",
        templateRequired = Seq("a"), // b NOT required: padded nulls emit
        backref = None, multiplicity = None,
        templatePointers = Map("a" -> "/as/-", "b" -> "/bs/-"))))
    val df = Seq(
      ("x1", Seq("a1"), Some(Seq.empty[String])), // empty sibling array
      ("x2", Seq("a2"), None))                    // MISSING sibling array
      .toDF("id", "as", "bs")
    val got = GraphEmit.schemaEdges(df, cls2)
      .select("_from", "_to").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).sorted.toSeq
    // both rows pad b with null -> href concat nulls out -> same shape;
    // before the zipInput coalesce, x2's null array nulled the whole
    // zip and silently dropped its edge while x1 kept one
    assert(got === Seq(("s/x1", None), ("s/x2", None)))
  }

  test("compat: loads the reference's own schema directory when present") {
    val dir = "/root/reference/test/resources/schemas"
    assume(Files.exists(Paths.get(dir)))
    val classes = SchemaLoader.loadDir(dir)
    assert(classes.size > 10)
    val project = classes("project")
    assert(project.required.contains("project_id"))
    assert(project.links.exists(l => l.targetClass == "program"))
    // and compiling against a plausible column set yields rules
    val rules = SchemaLoader.compileRules(project,
      Set("id", "submitter_id", "project_id"))
    assert(rules.nonEmpty)
  }
}
