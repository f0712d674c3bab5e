package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `Verify <sfDir> <outDir> key,key` re-dumps only the named keys. It
  * runs in a child JVM (this JVM's java, flags and classpath), because
  * `Verify.main` stops its session and this JVM shares one across
  * every suite. */
class VerifySpec extends AnyFunSuite {

  test("Verify with a key list writes exactly those keys and their oracle entries") {
    val keys = Seq("q_scan_pushdown", "q_agg_global")
    val out = Files.createTempDirectory("graft_verify_keys")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      jvmArgs ++ Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.Verify",
        "/root/testdata/sf0.001", out.toString, keys.mkString(","))
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(out.resolve("verify.log").toFile)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val rc = pb.start().waitFor()
    assert(rc == 0, new String(Files.readAllBytes(out.resolve("verify.log"))))

    val dirs = Files.list(out).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(dirs == keys.toSet)
    keys.foreach { k =>
      assert(Files.list(out.resolve(k)).iterator().asScala
        .exists(_.toString.endsWith(".parquet")), s"$k wrote no parquet")
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out.resolve("oracle_sql.json").toFile)
    val written = json.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    assert(written == keys.map(k => k -> SparkEntry.oracleSql(k)).toMap)
  }
}
