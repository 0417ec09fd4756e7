package graft.rules

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Loader for sifter-style JSON-Schema class declarations (YAML draft
  * 2020-12 files, one class per file — the format of the reference's
  * schema dirs, e.g. test/resources/schemas/project.yaml: `$id`,
  * `required`, `properties` with union types / `enum` / `pattern` /
  * `$ref`, and graph `links` with href templates + targetSchema).
  *
  * This is what lets a sifter user bring their existing schema
  * directory: [[loadDir]] parses it, [[compileRules]] turns each class
  * into the engine's [[RowRule]]s (the same compilation
  * `objectValidate` does per row via bmeg/jsonschema,
  * transform/object_validate.go:31-55 — here done once at plan time),
  * and [[LinkSpec]]s feed graph emission + referential checks.
  */
object SchemaLoader {

  final case class PropSpec(
      types: Seq[String],
      pattern: Option[String],
      enumVals: Seq[String],
      ref: Option[String])

  final case class LinkSpec(
      rel: String,
      href: String,
      targetClass: String,
      templateRequired: Seq[String],
      backref: Option[String],
      multiplicity: Option[String],
      /** href template variable → JSON pointer into the row, e.g.
        * `id -> /projects/-/id` (`-` = one edge per array element). */
      templatePointers: Map[String, String] = Map.empty)

  final case class SchemaClass(
      id: String,
      title: String,
      required: Seq[String],
      properties: Map[String, PropSpec],
      links: Seq[LinkSpec])

  private def asMap(o: Any): Map[String, Any] = o match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, v) => k.toString -> v }.toMap
    case _ => Map.empty
  }
  private def asSeq(o: Any): Seq[Any] = o match {
    case l: java.util.List[_] => l.asScala.toSeq
    case null => Seq.empty
    case x => Seq(x)
  }

  def loadClassYaml(yaml: String): SchemaClass = {
    val root = asMap(new org.yaml.snakeyaml.Yaml().load[Any](yaml))
    val id = root.getOrElse("$id", root.getOrElse("id", "")).toString
    val props = asMap(root.getOrElse("properties", null)).map { case (name, raw) =>
      val p = asMap(raw)
      name -> PropSpec(
        types = asSeq(p.getOrElse("type", null)).map(_.toString),
        pattern = p.get("pattern").map(_.toString),
        enumVals = asSeq(p.getOrElse("enum", null)).map(_.toString),
        ref = p.get("$ref").map(_.toString))
    }
    val links = asSeq(root.getOrElse("links", null)).map(asMap).flatMap { l =>
      val rel = l.get("rel").map(_.toString)
      val target = asMap(l.getOrElse("targetSchema", null)).get("$ref")
        .map(_.toString.replaceAll("\\.yaml$", ""))
      val hints = asMap(l.getOrElse("targetHints", null))
      rel.zip(target).map { case (r, t) =>
        LinkSpec(
          rel = r,
          href = l.getOrElse("href", "").toString,
          targetClass = t,
          templateRequired = asSeq(l.getOrElse("templateRequired", null)).map(_.toString),
          backref = asSeq(hints.getOrElse("backref", null)).headOption.map(_.toString.trim),
          multiplicity = asSeq(hints.getOrElse("multiplicity", null)).headOption.map(_.toString),
          templatePointers = asMap(l.getOrElse("templatePointers", null))
            .map { case (k, v) => k -> v.toString })
      }
    }
    SchemaClass(
      id = id,
      title = root.getOrElse("title", id).toString,
      required = asSeq(root.getOrElse("required", null)).map(_.toString),
      properties = props,
      links = links)
  }

  /** Load every class file of a schema directory (skips `_*.yaml`
    * shared-definition files, as the reference's graph loader does). */
  def loadDir(dir: String): Map[String, SchemaClass] = {
    val d: Path = Paths.get(dir)
    val s = Files.list(d) // close the dir handle — Files.list leaks it otherwise
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".yaml") &&
        !p.getFileName.toString.startsWith("_"))
      .flatMap { p =>
        scala.util.Try(loadClassYaml(Files.readString(p))).toOption
          .filter(_.id.nonEmpty)
      }
      .map(c => c.id -> c).toMap
    finally s.close()
  }

  /** Compile a class into row rules over the columns actually present.
    * JSON-Schema semantics: `required` = present; a type union with
    * 'null' admits null, so Required is only emitted for non-nullable
    * required fields, once per name however often it is listed (rule
    * ids name verdict cells, so they must be unique). `$ref`
    * properties are opaque (checked by their own class). */
  def compileRules(cls: SchemaClass, presentCols: Set[String]): Seq[RowRule] = {
    val cols = cls.properties.view.filterKeys(presentCols).toMap
    val required = cls.required.distinct.filter(presentCols)
      .filter(c => !cols.get(c).exists(_.types.contains("null")))
      .map(c => Required(s"${cls.id}.required_$c", c))
    val patterns = cols.collect { case (c, p) if p.pattern.isDefined =>
      Pattern(s"${cls.id}.pattern_$c", c, p.pattern.get)
    }
    val enums = cols.collect { case (c, p) if p.enumVals.nonEmpty =>
      EnumIn(s"${cls.id}.enum_$c", c, p.enumVals)
    }
    val types = cols.collect {
      case (c, p) if p.types.contains("integer") =>
        TypeIs(s"${cls.id}.type_$c", c, LongType)
      case (c, p) if p.types.contains("number") =>
        TypeIs(s"${cls.id}.type_$c", c, DoubleType)
    }
    (required ++ patterns ++ enums ++ types).toSeq
  }

  /** Render a link's href template against literal column references:
    * 'program/{id}' → concat("program/", col("id")) — the edge target
    * gid, exactly how output_graph.go derives edge endpoints. */
  /** Does a dotted path resolve inside this schema? (Maps count as
    * resolvable — their values may be null at runtime, like any field.) */
  def hasPath(schema: org.apache.spark.sql.types.StructType, path: String): Boolean = {
    import org.apache.spark.sql.types.{DataType, MapType, StructType}
    var dt: DataType = schema
    path.split("\\.").forall { p =>
      dt match {
        case st: StructType => st.find(_.name == p) match {
          case Some(f) => dt = f.dataType; true
          case None => false
        }
        case m: MapType => dt = m.valueType; true
        case _ => false
      }
    }
  }

  def hrefColumn(href: String): org.apache.spark.sql.Column =
    hrefColumnBound(href, Map.empty)

  /** [[hrefColumn]] with template variables bound to explicit Columns
    * (templatePointer resolution); unbound variables fall back to
    * same-named row columns. */
  def hrefColumnBound(href: String,
      bound: Map[String, org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val parts = "\\{([^}]+)\\}".r.split(href)
    val fields = "\\{([^}]+)\\}".r.findAllMatchIn(href).map(_.group(1)).toSeq
    val pieces = parts.zipAll(fields, "", "").flatMap { case (litPart, f) =>
      Seq(Option(litPart).filter(_.nonEmpty).map(lit),
        Option(f).filter(_.nonEmpty).map(v => bound.getOrElse(v, col(v)))).flatten
    }
    concat(pieces: _*)
  }
}
