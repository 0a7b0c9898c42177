package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Child-JVM main for [[EngineSpec]]: builds `Engine.session` and prints
  * the session's settings as `key=value` lines. */
object EngineSessionProbe {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session(3, args(0))
    try {
      spark.conf.getAll.toSeq.sorted.foreach { case (k, v) => println(s"$k=$v") }
      println(s"checkpointDir=${spark.sparkContext.getCheckpointDir}")
    } finally spark.stop()
  }
}

/** `Engine.session` is checked in a child JVM: a session built in this
  * JVM would leave the bench settings on the session every other suite
  * shares, and those suites run with Spark's defaults. */
class EngineSpec extends AnyFunSuite {

  test("Engine.session applies the 11 bench settings and no checkpoint dir") {
    val tmp = Files.createTempDirectory("graft-engine-")
    val warehouse = tmp.resolve("wh").toString
    val out = tmp.resolve("probe.out")
    // the forked test JVM's module opens, which Spark needs on JDK 17; no
    // -D spark.* property, so only Engine.session sets the session
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val opens = jvmArgs.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", i) => Seq("--add-opens", jvmArgs(i + 1))
      case _ => Nil
    }
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    // output to a FILE, not a pipe: Spark's start-up logging can fill a
    // pipe buffer and block the child
    val child = new ProcessBuilder((Seq(javaBin, "-Xmx1g") ++ opens ++
        Seq("-cp", sys.props("java.class.path"), "graft.EngineSessionProbe",
          warehouse)).asJava)
      .redirectErrorStream(true).redirectOutput(out.toFile).start()
    assert(child.waitFor(120, TimeUnit.SECONDS), "probe JVM timed out")
    val lines = Files.readAllLines(out).asScala.toSeq
    assert(child.exitValue() == 0, lines.takeRight(20).mkString("\n"))
    val conf = lines.collect {
      case l if l.startsWith("spark.") && l.contains('=') =>
        l.substring(0, l.indexOf('=')) -> l.substring(l.indexOf('=') + 1)
    }.toMap

    assert(conf.get("spark.master").contains("local[3]"))
    val bench = Map(
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "67108864",
      "spark.sql.files.maxPartitionBytes" -> "4194304",
      "spark.sql.files.openCostInBytes" -> "1048576",
      "spark.sql.codegen.cache.maxEntries" -> "5000")
    bench.foreach { case (k, v) => assert(conf.get(k).contains(v), k) }
    assert(conf.get("spark.sql.warehouse.dir")
      .map(w => Paths.get(new java.net.URI(w).getPath)).contains(Paths.get(warehouse)))
    assert(lines.contains("checkpointDir=None"))
    graft.silver.Upsert.deleteRecursively(tmp)
  }
}
