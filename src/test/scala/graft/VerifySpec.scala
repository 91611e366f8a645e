package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** graft.Verify's dump loop (the t2 correctness dump): a named subset writes
  * exactly those queries' outputs plus an oracle_sql.json and errors.json
  * restricted to them. */
class VerifySpec extends AnyFunSuite {
  test("Verify.dump with names writes only those queries and their oracle SQL") {
    val out = Files.createTempDirectory("verify_subset")
    val names = Seq("q_pricing", "q_filter")
    Verify.dump(TestSession.spark, "/root/testdata/sf0.001", out.toString, names)
    def ls(p: Path): Set[String] = {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    assert(ls(out) == Set("q_pricing", "q_filter", "oracle_sql.json", "errors.json"))
    names.foreach { n =>
      assert(ls(out.resolve(n)).exists(_.endsWith(".parquet")), s"$n wrote no parquet")
    }
    val oracle = Files.readString(out.resolve("oracle_sql.json"))
    val keys = "\"(q_[a-z0-9_]+)\": ".r.findAllMatchIn(oracle).map(_.group(1)).toSet
    assert(keys == names.toSet)
    assert(Files.readString(out.resolve("errors.json")).startsWith("""{"n_errors": 0,"""))
  }
}
