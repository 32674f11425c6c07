package graft

import java.io.File

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one place that decides where the engine writes a scratch store
  * (fixture snapshot stores, persisted indexes, manifests, verdict logs).
  *
  * A store lives at `<java.io.tmpdir>/graft-scratch/<applicationId>/
  * <name>_<dirTag>`:
  *  - the root is the JVM's temp dir, so `-Djava.io.tmpdir` moves every
  *    store at once;
  *  - the application directory is the unit of cleanup: the first path
  *    built for an application registers a listener that deletes the
  *    whole directory when the SparkContext stops (JVM exit stops it
  *    through Spark's shutdown hook), so scratch never outlives the
  *    process that wrote it;
  *  - the dir tag makes the path vary with the table dir: a fixture
  *    memoized per (application, dir) by [[FixtureCache]] must not share
  *    its store with the same fixture built from another dir.
  */
object Scratch {
  private val cleaned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Path of scratch store `name` built from the tables in `dir`. */
  def path(s: SparkSession, name: String, dir: String): String =
    new File(appRoot(s), s"${name}_${dirTag(dir)}").getPath

  /** This application's scratch directory, removed when it stops. */
  private[graft] def appRoot(s: SparkSession): File = {
    val sc = s.sparkContext
    val app = sc.applicationId
    val root = new File(
      new File(sys.props("java.io.tmpdir"), "graft-scratch"), app)
    if (cleaned.add(app))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd)
            : Unit = {
          org.apache.commons.io.FileUtils.deleteQuietly(root)
          cleaned.remove(app)
        }
      })
    root
  }

  /** Short stable fingerprint of a table dir. */
  private def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
}
