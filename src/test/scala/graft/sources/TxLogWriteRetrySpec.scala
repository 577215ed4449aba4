package graft.sources

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Retry safety of the txlog writers: under `local[4,2]` every write
  * task's first attempt fails after its files are written, and the
  * table and each commit's change rows must still hold every row
  * exactly once; an aborted write leaves no `.inprogress-*` file and
  * no staged dir. Runs [[TxLogWriteRetryMain]] in a child JVM — the
  * shared test session is `local[4]`, which never retries a task.
  */
class TxLogWriteRetrySpec extends SparkSpec {
  test("a failed first attempt per partition commits every row once; " +
      "an aborted write leaves nothing behind") {
    val root = Files.createTempDirectory("txlog_retry").toString
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens")).toSeq
    val cmd = Seq(java.toString, "-Xmx1g") ++ opens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.sources.TxLogWriteRetryMain", root)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    assert(p.waitFor() == 0 && out.contains("RETRY-OK"),
      s"retry driver failed:\n${out.takeRight(4000)}")
  }
}
