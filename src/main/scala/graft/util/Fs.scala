package graft.util

import java.nio.file.{FileVisitResult, Files, LinkOption, Path => JPath, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem helpers for the staging paths (Verify's dump staging, the
  * grid fixtures' temp dirs, the bucketed-layout and JSONL round-trip
  * staging). Engine code never touches raw files — data goes through the
  * Spark sources/sinks; these helpers exist so the HARNESS flows that
  * stage layouts (g5's plane rename, q29's bucketed write, t14's JSONL
  * dir) are scheme-agnostic: resolved through Hadoop's `FileSystem` from
  * the path's scheme, the same code runs on `file:` locally and on
  * `s3a://` under the envelope `GraftS3` configures (the reference stages
  * its timestep files on live S3 — `test/test_parquet_prod.py:1-46`).
  */
object Fs {

  /** Recursive LOCAL delete; silently tolerates a missing path. Directory
    * symlinks are NOT followed — the link itself is deleted, never the
    * target's contents (a followed link planted inside a staging dir
    * would otherwise delete files outside the tree). `walkFileTree`
    * without `FOLLOW_LINKS` visits a dir-symlink as a plain file, so the
    * visitor below unlinks it like any other entry.
    */
  def rmTree(f: java.io.File): Unit = {
    val root = f.toPath
    if (Files.exists(root, LinkOption.NOFOLLOW_LINKS)) {
      Files.walkFileTree(root, new SimpleFileVisitor[JPath] {
        override def visitFile(p: JPath, attrs: BasicFileAttributes)
            : FileVisitResult = {
          Files.deleteIfExists(p); FileVisitResult.CONTINUE
        }
        override def postVisitDirectory(p: JPath, exc: java.io.IOException)
            : FileVisitResult = {
          Files.deleteIfExists(p); FileVisitResult.CONTINUE
        }
      })
    }
    ()
  }

  /** The Hadoop `FileSystem` serving `path`, resolved from the path's
    * scheme (`file:`, `s3a:`, `hdfs:`, scheme-less → `fs.defaultFS`)
    * against the session's Hadoop conf — so `fs.s3a.*` settings applied
    * by `GraftS3` flow through.
    */
  def hadoopFs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Per-invocation unique staging directory, scheme-agnostic: created
    * under the `graft.staging.dir` session conf (any Hadoop scheme;
    * default = the local tmpdir as a `file:` URI). Unique per call so
    * concurrent runs (Bench and Verify on the same sfDir) can never
    * delete/rewrite each other's staged files, and no stale output from
    * a previous run can pollute a fresh one.
    */
  def mkStagingDir(spark: SparkSession, prefix: String): String = {
    val root = spark.conf.get("graft.staging.dir",
      "file:" + System.getProperty("java.io.tmpdir"))
    val dir = s"${root.stripSuffix("/")}/$prefix${java.util.UUID.randomUUID()}"
    val fs = hadoopFs(spark, dir)
    require(fs.mkdirs(new Path(dir)), s"mkdirs failed: $dir")
    dir
  }

  /** Same-filesystem rename (a metadata move on file:/hdfs:, a copy
    * envelope on object stores). Fails loudly when the source is missing
    * or the store refuses — Hadoop signals both as `false`.
    */
  def rename(spark: SparkSession, src: String, dst: String): Unit = {
    val fs = hadoopFs(spark, src)
    require(fs.rename(new Path(src), new Path(dst)),
      s"rename $src -> $dst failed")
  }

  /** Scheme-agnostic recursive delete; tolerates a missing path. */
  def rmTree(spark: SparkSession, path: String): Unit =
    rmTree(spark.sessionState.newHadoopConf(), path)

  /** Conf-explicit variant for shutdown hooks, where the session may
    * already be gone but its captured Hadoop conf (with any `fs.s3a.*`
    * credentials) still resolves the right store.
    */
  def rmTree(conf: Configuration, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(conf).delete(p, true); ()
  }

  /** One shutdown hook for every dir [[removeAtExit]] registers in this
    * JVM (idempotent map — a hook per call would grow the JVM's hook
    * list unboundedly in a long spec session). Each dir keeps the
    * Hadoop conf captured at registration (with any `fs.s3a.*`
    * credentials), and the hook runs through Hadoop's
    * ShutdownHookManager ABOVE the FileSystem cache's close priority — a
    * plain `Runtime.addShutdownHook` races `FileSystem.closeAll` and can
    * find every FS already closed.
    */
  private val exitDirs =
    new java.util.concurrent.ConcurrentHashMap[String, Configuration]()
  private lazy val exitHook: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        def run(): Unit = exitDirs.forEach { (d, conf) =>
          try rmTree(conf, d)
          catch { case _: Exception => () } // best-effort tmp hygiene
        }
      },
      FileSystem.SHUTDOWN_HOOK_PRIORITY + 30)

  /** Delete `dir` (any Hadoop scheme) when the JVM exits. */
  def removeAtExit(spark: SparkSession, dir: String): Unit = {
    exitHook; exitDirs.put(dir, spark.sessionState.newHadoopConf()); ()
  }
}
