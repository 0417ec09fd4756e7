package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One workload of the benchmark. Construction generates the inputs
  * (untimed); [[op]] is the timed operation; [[check]] compares the
  * repeat's outputs with the tally and lists what differs; [[cleanup]]
  * removes what the repeat wrote. [[finale]] is an extra checked
  * operation run once per run, after the timed repeats. */
trait Workload {
  def rows: Long
  def op(): Unit
  def check(): Seq[String]
  def cleanup(): Unit = ()
  def finale(): Option[Seq[String]] = None
}

object Inputs {
  /** The generated files table, built by 16 Spark tasks in parallel. */
  def filesFrame(spark: SparkSession, spec: Spec): DataFrame = {
    import spark.implicits._
    spark.range(0, spec.rows, 1, 16).as[Long]
      .flatMap(i => Gen.rowsAt(spec, i)).toDF()
  }

  def write(path: Path, text: String): Path = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, text)
  }

  /** Bytes and regular files under a directory. */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}
