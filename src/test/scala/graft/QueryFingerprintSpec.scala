package graft

import java.nio.file.{Files, Paths}
import graft.tools.QueryFingerprints
import org.scalatest.funsuite.AnyFunSuite

/** Every [[SparkEntry.queries]] entry, run at sf0.001, must reproduce its
  * frozen fingerprint (schema, row count, multiset row hash; see
  * [[QueryFingerprints]]): the offline result gate. A query whose result
  * changes on purpose is refrozen with the generator, and the change
  * explained in CHANGES.md. */
class QueryFingerprintSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val frozen = QueryFingerprints.read(QueryFingerprints.fixture)

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
    test(s"fingerprint: $name") {
      if (name == "g_gdc_edges")
        assume(Files.isDirectory(Paths.get(SparkEntry.gdcDir)),
          "the reference checkout holding the gdc corpus is missing")
      assert(frozen.contains(name),
        s"no frozen fingerprint for $name: regenerate ${QueryFingerprints.fixture}")
      assert(QueryFingerprints.of(q(spark, sf)) === frozen(name))
    }
  }
}
