package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Every engine store path comes from [[Scratch]]: one root (the JVM
  * temp dir), one scope per application, one tag per table dir, and the
  * application's directory goes away when the application stops. */
class ScratchSpec extends SparkSpec {

  private def under(root: String, p: String): Boolean =
    new File(p).getCanonicalPath.startsWith(
      new File(root).getCanonicalPath + File.separator)

  test("two table dirs in one application get distinct store paths") {
    val (a, b) = (sf("sf0.001"), sf("sf0.01"))
    Seq("q24_snapshot", "q57_zorder", "q171_store", "bucketed")
      .foreach { name =>
        assert(Scratch.path(spark, name, a) !== Scratch.path(spark, name, b))
        assert(Scratch.path(spark, name, a) === Scratch.path(spark, name, a))
      }
    // q24 re-reads its store lazily: a second dir's write to a shared
    // path would replace the files the first frame still points at
    val before = queries.RelationalQueries.q24Snapshot(spark, a).collect()
    val first = queries.RelationalQueries.q24Snapshot(spark, a)
    queries.RelationalQueries.q24Snapshot(spark, b).collect()
    assert(first.collect() === before)
  }

  test("every store path lies under java.io.tmpdir, scoped by " +
    "application") {
    val tmp = sys.props("java.io.tmpdir")
    val app = Scratch.appRoot(spark).getPath
    assert(under(tmp, app))
    assert(app.endsWith(spark.sparkContext.applicationId))
    for (name <- Seq("q171_store", "graft_inv_index", "pq_index");
         dir <- Seq(sf("sf0.001"), sf("sf0.1"), "relative/dir"))
      assert(under(app, Scratch.path(spark, name, dir)))
  }

  test("no engine source outside Scratch names target/tmp") {
    val src = new File("src/main/scala")
    assert(src.isDirectory, s"run from the repo root: $src")
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files) else Seq(f)
    val offenders = files(src)
      .filter(f => f.getName.endsWith(".scala") &&
        f.getName != "Scratch.scala")
      .filter(f => new String(Files.readAllBytes(f.toPath), "UTF-8")
        .contains("target/tmp"))
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("stopping the application removes its scratch stores") {
    // a SparkContext stops once per JVM, so the application under test
    // runs in a child JVM with its own temp dir
    val tmp = Files.createTempDirectory("scratchspec").toFile
    try {
      val jvm = new File(sys.props("java.home"), "bin/java").getPath
      val opens = ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
      val cmd = Seq(jvm, "-Xmx1g", s"-Djava.io.tmpdir=$tmp") ++ opens ++
        Seq("-cp", sys.props("java.class.path"), "graft.ScratchSpec",
          sf("sf0.001"))
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream)
        .getLines().toList
      assert(proc.waitFor() === 0, out.takeRight(30).mkString("\n"))
      val store = out.collectFirst {
        case l if l.startsWith("store=") => l.stripPrefix("store=")
      }.getOrElse(fail(out.takeRight(30).mkString("\n")))
      assert(out.contains("written=true"), out.takeRight(30).mkString("\n"))
      assert(under(tmp.getPath, store))
      assert(!new File(store).exists, s"$store outlived its application")
      assert(!new File(store).getParentFile.exists)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }
}

object ScratchSpec {

  /** Child-JVM side of the cleanup test: run q171 (which writes a
    * snapshot store), report its path, stop the application. */
  def main(args: Array[String]): Unit = {
    val spark = Tables.configure(SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    api.Permissions.q171RoleScopedMutation(spark, args(0)).collect()
    val store = Scratch.path(spark, "q171_store", args(0))
    println(s"store=$store")
    println(s"written=${new File(store).isDirectory}")
    spark.stop()
  }
}
