package graft

import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProviderId}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{ForkFreeLocalFs, Replay, UniqueStreams}

/** The state-store hook (`UniqueStreams.useRocksDBStateStore`): its fork-free
  * local file system leaves exactly the files, bytes, `.crc` checksums and
  * permissions Hadoop's `LocalFs` leaves; the save-and-restore helper puts
  * every key back; a changelog-checkpointed restart past a snapshot
  * replays to the uninterrupted output; a stopped replay leaves no
  * state-store provider loaded; and streams started after the hook run
  * their tasks under the executor's own class loader, so a repeated
  * replay compiles no generated class.
  */
class StateStoreHookSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val fsKey = "fs.AbstractFileSystem.file.impl"
  private val isolationKey = "spark.sql.artifact.isolation.enabled"

  private def fileContext(forkFree: Boolean): FileContext = {
    val conf = new Configuration()
    conf.set(fsKey, (if (forkFree) classOf[ForkFreeLocalFs] else classOf[LocalFs]).getName)
    FileContext.getFileContext(new java.net.URI("file:///"), conf)
  }

  /** Every file under `root`: relative path -> (bytes, rwx permissions). */
  private def tree(root: JPath): Map[String, (Seq[Byte], String)] =
    Files.walk(root).iterator.asScala.filter(_ != root).map { p =>
      val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty
      root.relativize(p).toString ->
        (bytes, java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p)))
    }.toMap

  private def unixMode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  /** Run `ops` once through each file system in its own temp root. */
  private def bothSides(ops: (FileContext, String => Path) => Unit): (JPath, JPath) = {
    val roots = Seq(false, true).map { forkFree =>
      val root = Files.createTempDirectory(if (forkFree) "ff_fs" else "stock_fs")
      ops(fileContext(forkFree), rel => new Path(root.resolve(rel).toUri))
      root
    }
    (roots(0), roots(1))
  }

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  test("fork-free FileContext leaves the same files, bytes, .crc files and " +
      "permissions as Hadoop's LocalFs") {
    val (stock, forkFree) = bothSides { (fc, at) =>
      // mkdir with parents, create+write+close, rename with overwrite, delete
      fc.mkdir(at("a/b/c"), FsPermission.getDirDefault, true)
      write(fc, at("a/b/c/data.tmp"), "version one\n")
      write(fc, at("a/b/c/data"), "to be replaced\n")
      fc.rename(at("a/b/c/data.tmp"), at("a/b/c/data"), Options.Rename.OVERWRITE)
      write(fc, at("a/gone"), "deleted below\n")
      assert(fc.delete(at("a/gone"), false))
      fc.mkdir(at("m"), new FsPermission("750"), false)
      write(fc, at("m/x"), "x" * 2000)
      fc.setPermission(at("m/x"), new FsPermission("604"))
    }
    val (a, b) = (tree(stock), tree(forkFree))
    assert(a.keySet === Set("a", "a/b", "a/b/c", "a/b/c/data", "a/b/c/.data.crc",
      "m", "m/x", "m/.x.crc"), "fixture drift: unexpected stock layout")
    assert(b === a)
    assert(new String(b("a/b/c/data")._1.toArray, "UTF-8") === "version one\n")
    assert(b("m")._2 === "rwxr-x---" && b("m/x")._2 === "rw----r--")
  }

  test("a symlink still reports isSymlink; a sticky bit takes Hadoop's own path") {
    val (stock, forkFree) = bothSides { (fc, at) =>
      write(fc, at("target"), "t")
      Files.createSymbolicLink(java.nio.file.Paths.get(at("link").toUri),
        java.nio.file.Paths.get(at("target").toUri))
      fc.mkdir(at("shared"), FsPermission.getDirDefault, false)
      fc.setPermission(at("shared"), new FsPermission("1777"))
    }
    Seq(stock, forkFree).foreach { root =>
      val link = new Path(root.resolve("link").toString) // scheme-less, as readlink sees it
      val fc = fileContext(root == forkFree)
      val st = fc.getFileLinkStatus(link)
      assert(st.isSymlink, s"$root: link lost its symlink status")
      assert(st.getSymlink.toUri.getPath === root.resolve("target").toString)
      assert(!fc.getFileLinkStatus(new Path(root.resolve("target").toString)).isSymlink)
      assert(unixMode(root.resolve("shared")) % 0x1000 === Integer.parseInt("1777", 8),
        s"$root: sticky directory mode lost")
    }
  }

  test("useRocksDBStateStore sets all three keys; withRocksDBStateStore " +
      "restores a pre-set value and unsets a key that had none") {
    val keys = Seq("spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", fsKey,
      isolationKey)
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      spark.conf.set(keys(0), hdfs)
      spark.conf.set(keys(1), "false")
      spark.conf.unset(fsKey)
      spark.conf.set(isolationKey, "true")
      val before = Seq(Some(hdfs), Some("false"), None, Some("true"))
      val inside = UniqueStreams.withRocksDBStateStore(spark) {
        keys.map(k => spark.conf.getOption(k))
      }
      assert(inside === Seq(
        Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
        Some("true"), Some(classOf[ForkFreeLocalFs].getName), Some("false")))
      assert(keys.map(k => spark.conf.getOption(k)) === before)
      intercept[IllegalStateException](UniqueStreams.withRocksDBStateStore(spark) {
        throw new IllegalStateException("body failed")
      })
      assert(keys.map(k => spark.conf.getOption(k)) === before)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("everStream restarted past a snapshot (version 12 of 24, snapshot every " +
      "10 deltas) replays to the uninterrupted change log") {
    // 480 events over 37 keys, 20 per micro-batch: 24 batches, restart
    // after version 12, so recovery loads the version-10 snapshot and
    // replays changelog files 11 and 12
    val events = (1 to 480).map(i => (i.toLong, s"k${(i * 7) % 37}")).toDF("seq", "key")
    def log(df: org.apache.spark.sql.DataFrame) =
      df.select("change", "seq", "key").as[(String, Long, String)].collect().toSeq.sorted
    val replays = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach { op =>
          Option(op.customMetrics.get("rocksdbNumReplayChangelogFiles"))
            .foreach(n => replays.add(n.longValue))
        }
    }
    // the version-10 snapshot is uploaded before the restart by the
    // maintenance pass Replay runs as it unloads the stopped query's
    // providers, so the test needs no maintenance thread of its own
    spark.streams.addListener(listener)
    try UniqueStreams.withRocksDBStateStore(spark) {
      val straight = log(Replay.replay(spark, events, "seq", 20, "update")(sdf =>
        UniqueStreams.everStream(sdf, Seq("key"), Some("seq"))))
      val restarted = log(Replay.replayWithRestart(spark, events, "seq", 20)(sdf =>
        UniqueStreams.everStream(sdf, Seq("key"), Some("seq"))))
      assert(straight.count(_._1 == "insert") === 480)
      assert(straight.count(_._1 == "expire") === 480 - 37)
      assert(restarted === straight)
    } finally spark.streams.removeListener(listener)
    val deadline = System.nanoTime + 30e9.toLong
    while (!replays.asScala.exists(_ > 0) && System.nanoTime < deadline) Thread.sleep(100)
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val replayed = replays.asScala.max
    // from a snapshot: 2 changelog files a partition; without one: 12
    assert(replayed > 0 && replayed < 12 * partitions,
      s"recovery replayed $replayed changelog files over $partitions partitions")
  }

  /** The state-store providers loaded in this JVM (StateStore keeps the
    * map private). */
  private def loadedProviders: Set[StateStoreProviderId] = {
    val m = StateStore.getClass.getDeclaredMethod("loadedProviders")
    m.setAccessible(true)
    val loaded = m.invoke(StateStore)
      .asInstanceOf[scala.collection.mutable.HashMap[StateStoreProviderId, _]]
    loaded.synchronized(loaded.keySet.toSet)
  }

  test("a stopped replay leaves none of its state-store providers loaded") {
    val events = (1 to 200).map(i => (i.toLong, s"k${i % 23}")).toDF("seq", "key")
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = runs.add(e.runId)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try UniqueStreams.withRocksDBStateStore(spark) {
      val out = Replay.replayWithRestart(spark, events, "seq", 20)(sdf =>
        UniqueStreams.everStream(sdf, Seq("key"), Some("seq")))
      // every event inserted, every replaced one expired: the state was used
      assert(out.count() === 200 + 200 - 23)
    } finally spark.streams.removeListener(listener)
    assert(runs.size === 2, "a restarted replay runs the query twice")
    val left = loadedProviders.filter(id => runs.contains(id.queryRunId))
    assert(left.isEmpty, s"providers still loaded: $left")
  }

  /** The class name of each task's context class loader. */
  private val loader = udf(() => Thread.currentThread.getContextClassLoader.getClass.getName)

  /** On a new session set up by `setUp`, an everStream replay whose
    * output carries each task's context class loader, run twice. Returns
    * the loaders seen and the Janino compiles the second replay added. */
  private def twoReplaysOnNewSession(setUp: SparkSession => Unit): (Set[String], Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val fresh = spark.newSession()
    setUp(fresh)
    val events = fresh.createDataFrame((1 to 120).map(i => (i.toLong, s"k${i % 17}")))
      .toDF("seq", "key")
    def run(): Set[String] =
      Replay.replay(fresh, events, "seq", 20, "update")(sdf =>
        UniqueStreams.everStream(sdf, Seq("key"), Some("seq")).withColumn("loader", loader()))
        .select("loader").distinct().as[String].collect().toSet
    val first = run()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = run()
    (first ++ second, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled)
  }

  private val executorLoader = "org.apache.spark.executor.ExecutorClassLoader"

  test("the hook before a new session's first query: stream tasks run outside " +
      "ExecutorClassLoader and a second identical replay compiles no class") {
    // "true" is Spark's default; this build's JVMs start with isolation off
    val (loaders, compiles) = twoReplaysOnNewSession { s =>
      s.conf.set(isolationKey, "true")
      UniqueStreams.useRocksDBStateStore(s)
    }
    assert(loaders.nonEmpty && !loaders.contains(executorLoader), s"task loaders: $loaders")
    assert(compiles === 0, "the second replay compiled generated code again")
  }

  test("contrast: isolation on at a new session's first query puts stream tasks " +
      "under ExecutorClassLoader, and a second identical replay compiles again") {
    val (loaders, compiles) = twoReplaysOnNewSession { s =>
      UniqueStreams.useRocksDBStateStore(s)
      s.conf.set(isolationKey, "true")
    }
    assert(loaders === Set(executorLoader))
    assert(compiles > 0)
  }

  test("the hook after a session's first query: its batch queries stay isolated, " +
      "streams started later are not") {
    var batchLoaders = Set.empty[String]
    val (loaders, _) = twoReplaysOnNewSession { s =>
      s.conf.set(isolationKey, "true")
      s.range(0, 4, 1, 4).select(loader()).as[String].collect()
      UniqueStreams.useRocksDBStateStore(s)
      batchLoaders = s.range(0, 4, 1, 4).select(loader()).as[String].collect().toSet
    }
    assert(batchLoaders === Set(executorLoader))
    assert(loaders.nonEmpty && !loaders.contains(executorLoader), s"task loaders: $loaders")
  }
}
