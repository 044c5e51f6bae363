package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Memo of values derived once per (session, sf dir, name): the shared
  * stages that several queries consume (checkpointed frames, fitted
  * models, persisted stage dirs, staged JDBC databases) and, in a
  * separate instance, the parquet relations [[graft.sources.Tables]]
  * resolves.
  *
  * THE memo contract, for every entry in the engine:
  *  - Immutable sf dirs. An entry is a memo, not a cache with
  *    invalidation: there is deliberately no staleness check on the read
  *    path, so a session that rewrites a dir's parquet in place must not
  *    expect memoized consumers to observe the new data.
  *  - Build-once. A key holds one build cell; concurrent callers of the
  *    same key wait for that one build and all get its value. A build
  *    that throws leaves no entry, so the next call rebuilds. Builds may
  *    nest (a stage consuming another stage); a build must never request
  *    its own key.
  *  - Session eviction. Every access drops the entries of sessions whose
  *    SparkContext has stopped (running their `release`), so no entry
  *    pins a dead session or its checkpoint blocks.
  *  - One [[StageMemo.clear]]. It drops every shared-stage entry and
  *    runs each built entry's `release` (the staged in-memory Derby
  *    databases are dropped, or a rebuild's CREATE TABLE would hit the
  *    still-live database). Relations live in their own instance and
  *    survive it: re-resolving them re-lists files and re-infers schemas.
  *
  * Keys carry one name each. A memo keyed by one more value puts it in
  * the name (`leg:exact`, `codec:zstd`). Stages with a fixed (session,
  * dir) builder are declared with [[StageMemo.stage]]; the bench forces
  * them, in declaration order, as its `stage:<name>` rows.
  */
final class StageMemo {
  import StageMemo.Cell

  private val cells = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Cell[_]]

  def getOrBuild[A](s: SparkSession, dir: String, name: String)(build: => A): A =
    entry[A](s, dir, name, StageMemo.keep)(build)

  private[graft] def entry[A](s: SparkSession, dir: String, name: String,
      release: A => Unit)(build: => A): A = {
    cells.keysIterator.filter(_._1.sparkContext.isStopped).foreach(drop)
    val key = (s, dir, name)
    // getOrElseUpdate may construct a losing Cell under contention, but
    // only the inserted one is ever forced: that is the build-once step
    val cell = cells.getOrElseUpdate(key, new Cell[A](build, release))
      .asInstanceOf[Cell[A]]
    try cell.value
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  /** Drop every entry, releasing the built ones. */
  def clear(): Unit = cells.keysIterator.foreach(drop)

  /** Names with an entry for (session, dir), built or building. */
  private[graft] def names(s: SparkSession, dir: String): Set[String] =
    cells.keysIterator.collect { case (`s`, `dir`, n) => n }.toSet

  private def drop(key: (SparkSession, String, String)): Unit =
    cells.remove(key).foreach(_.release())
}

object StageMemo {
  private[StageMemo] final class Cell[A](build: => A, releaseFn: A => Unit) {
    @volatile private var built = false
    lazy val value: A = { val v = build; built = true; v }
    def release(): Unit = if (built) releaseFn(value)
  }

  private val keep: Any => Unit = _ => ()
  private val shared = new StageMemo

  /** A shared-stage entry keyed by an arbitrary name (see the class doc). */
  def getOrBuild[A](s: SparkSession, dir: String, name: String)(build: => A): A =
    shared.getOrBuild(s, dir, name)(build)

  /** Drop every shared-stage entry (not the relations). */
  def clear(): Unit = shared.clear()

  private[graft] def names(s: SparkSession, dir: String): Set[String] =
    shared.names(s, dir)

  /** A named shared stage over a fixed (session, dir) builder. `touch`
    * is what the bench's `stage:<name>` row runs on the built value so
    * the row pays the stage's work (default: count a frame). */
  final class Stage[A] private[StageMemo] (val name: String,
      build: (SparkSession, String) => A, touch: A => Any,
      release: A => Unit) {
    def apply(s: SparkSession, dir: String): A =
      shared.entry(s, dir, name, release)(build(s, dir))
    def force(s: SparkSession, dir: String): Unit = { touch(apply(s, dir)); () }
  }

  private val countFrame: Any => Any = {
    case d: Dataset[_] => d.count()
    case _ => ()
  }
  @volatile private var registry = Vector.empty[Stage[_]]

  /** Declare a named stage. Registration order is declaration order, and
    * a stage is declared after every stage its build consumes. */
  def stage[A](name: String)(build: (SparkSession, String) => A): Stage[A] =
    stageWith[A](name)(build)

  /** [[stage]] with its own bench `touch` or entry `release`; call it
    * with an explicit type argument (the defaults would fix `A` at Any). */
  def stageWith[A](name: String, touch: A => Any = countFrame,
      release: A => Unit = keep)(build: (SparkSession, String) => A): Stage[A] =
    synchronized {
      require(!registry.exists(_.name == name), s"stage $name declared twice")
      val st = new Stage(name, build, touch, release)
      registry :+= st
      st
    }

  /** Every declared stage, in registration order. */
  def stages: Seq[Stage[_]] = registry

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val tempDirCleanup: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach { root =>
        try {
          import scala.jdk.CollectionConverters._
          scala.util.Using.resource(java.nio.file.Files.walk(root)) {
            _.sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala
              .foreach(p => try java.nio.file.Files.deleteIfExists(p)
                catch { case _: java.io.IOException => () })
          }
        } catch { case _: Throwable => () }
      }))

  /** A fresh temp dir for stage output, recursively deleted at JVM exit
    * (stage writes are corpus-scale; `deleteOnExit` only removes empty
    * dirs). */
  def tempDir(prefix: String): java.nio.file.Path = {
    tempDirCleanup
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(p)
    p
  }

  /** Collision-free name fragment for an sf dir: the full-string md5
    * (`String.hashCode` collides, e.g. `…/Aa` and `…/BB`). */
  def dirSlug(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Release for a staged in-memory Derby database: drop it (Derby
    * reports a successful drop as SQLException 08006). */
  val dropDerby: graft.sources.JdbcConfig => Unit = cfg =>
    try java.sql.DriverManager.getConnection(cfg.url + ";drop=true")
    catch { case _: java.sql.SQLException => () }
}
