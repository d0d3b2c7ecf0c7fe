package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.StreamConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one-time-build policy: every result that is built once and then
  * reused — the dedup docsets and CC labels, the streaming replay
  * stores, the JSONL/CSV ingest mirrors — goes through here, keyed by
  * applicationId × fixture dir × label.
  *
  * The applicationId is part of every key, so nothing a previous JVM
  * left behind can ever be served — a store keyed by fixture path alone
  * lets a warm /tmp answer for an earlier run — and a fresh application
  * always pays its builds. Each cold build runs inside
  * [[BuildWall.timed]] under its label, so Bench and the benchmark
  * harness price it; warm reads record nothing.
  *
  * Builds are serialized on this object (the lock is reentrant, so one
  * memo may build from another — the CC labels start from the docsets).
  */
object Memo {

  private val frames = new ConcurrentHashMap[String, DataFrame]()
  private val roots = ConcurrentHashMap.newKeySet[Path]()
  sys.addShutdownHook(roots.forEach(r => deleteRecursively(r)))

  /** Written last into a store; a store without it is a partial build. */
  private[graft] val Marker = "_MEMO_DONE"

  private def sanitize(s: String): String = s.replaceAll("[^A-Za-z0-9._-]", "_")

  /** In-JVM table built once per (app, dir, label, variant): `build`
    * must return a checkpointed (or otherwise materialized) frame.
    * `variant` separates builds whose inputs differ under one label
    * (the docsets' hash mode).
    */
  def frame(spark: SparkSession, dir: String, label: String,
      variant: String = "")(build: => DataFrame): DataFrame = {
    val key = Seq(spark.sparkContext.applicationId, dir, label, variant).mkString("|")
    Option(frames.get(key)).getOrElse(synchronized {
      Option(frames.get(key)).getOrElse {
        val df = BuildWall.timed(label)(build)
        frames.put(key, df)
        df
      }
    })
  }

  /** Where (app, dir, label)'s store lives: under the app's one root in
    * `java.io.tmpdir`, which the shutdown hook removes at JVM exit. Only
    * a crashed run can leave a root behind, and no later application
    * reads it.
    */
  private[graft] def storePath(appId: String, dir: String, label: String): Path = {
    val root = Paths.get(sys.props("java.io.tmpdir"), s"graft_memo_${sanitize(appId)}")
    roots.add(root)
    root.resolve(label).resolve(sanitize(dir))
  }

  /** On-disk store built once per (app, dir, label): `build` fills the
    * empty directory it is given. The marker is written only after
    * `build` returns, so a store without it — a build that failed or
    * was interrupted — is wiped and rebuilt.
    */
  def store(spark: SparkSession, dir: String, label: String)(build: Path => Unit): Path = {
    val p = storePath(spark.sparkContext.applicationId, dir, label)
    val marker = p.resolve(Marker)
    if (!Files.exists(marker)) synchronized {
      if (!Files.exists(marker)) BuildWall.timed(label) {
        deleteRecursively(p)
        Files.createDirectories(p)
        build(p)
        Files.write(marker, Array.emptyByteArray)
      }
    }
    p
  }

  /** Best-effort recursive delete; every directory listing is closed
    * before the next level opens, so a deep tree holds no descriptors.
    */
  private[graft] def deleteRecursively(p: Path): Unit =
    try {
      if (Files.isDirectory(p)) {
        val ls = Files.list(p)
        val children = try ls.toScala(List) finally ls.close()
        children.foreach(deleteRecursively)
      }
      Files.deleteIfExists(p)
    } catch { case _: java.io.IOException => () }
}
