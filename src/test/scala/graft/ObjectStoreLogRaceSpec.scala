package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}

import graft.operators.{LogStore, ObjectStoreLogStore}
import graft.sources.ObjectStore

/** The TableLogRaceSpec one-winner contract on the storage class the
  * reference actually uses (src/storage/minio.rs:139-242): S11's publish
  * rides a conditional PUT (`If-None-Match: *`) against an in-process
  * S3-protocol server whose precondition is enforced by one atomic
  * map-op — the same serialization point a real S3 region provides.
  * Three gated writer threads run the optimistic commit loop (guess the
  * next version, publish, on 412 re-guess) against ONE log prefix; the
  * surviving object set must be a dense one-manifest-per-version chain
  * with every payload landed exactly once and each writer's payloads in
  * program order. Threads (not processes) are the right vehicle here:
  * unlike link(2), the atomic step is in the SERVER, so the contest
  * crosses the same boundary a multi-JVM race would.
  */
class ObjectStoreLogRaceSpec extends SparkSpecBase {

  private var server: com.sun.net.httpserver.HttpServer = _
  private var baseUrl: String = _
  private val store = new S3StoreState

  override def beforeAll(): Unit = {
    super.beforeAll()
    val (srv, url) = S3TestServer.start(store)
    server = srv
    baseUrl = url
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  private def scratch = graft.operators.Etl.scratch(spark)

  test("conditional PUT is one-winner: of 8 concurrent claims on one key exactly one lands, losers see 412, bytes are the winner's") {
    store.reset()
    val key = "tables/t/_log/v1.log"
    val n = 8
    val start = new CountDownLatch(1)
    val results = new ConcurrentLinkedQueue[Either[Throwable, Int]]()
    val threads = (1 to n).map { i =>
      val t = new Thread(() => {
        start.await()
        try {
          ObjectStore.putIfAbsent(baseUrl, "lake", key,
            s"claim-$i".getBytes("UTF-8"))
          results.add(Right(i))
        } catch { case e: Throwable => results.add(Left(e)) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(30000))
    import scala.jdk.CollectionConverters._
    val (losses, wins) = results.asScala.toSeq.partition(_.isLeft)
    assert(wins.size === 1, s"exactly one winner expected: $results")
    assert(losses.size === n - 1)
    losses.foreach { l =>
      assert(l.swap.toOption.get.isInstanceOf[ObjectStore.ObjectAlreadyExists],
        s"loser must see the typed refusal: $l")
    }
    val winner = wins.head.toOption.get
    assert(new String(store.objects.get(s"lake/$key"), "UTF-8") === s"claim-$winner",
      "stored bytes must be the winner's, never a loser's overwrite")
    assert(store.count("condput") === n.toLong)
  }

  test("three gated writers x5 commits: dense chain, no payload lost/duplicated, program order per writer") {
    store.reset()
    val conf = spark.sparkContext.hadoopConfiguration
    val logStore = new ObjectStoreLogStore(baseUrl, Some("lake"))
    val WRITERS = 3
    val COMMITS = 5
    val total = WRITERS * COMMITS
    val start = new CountDownLatch(1)
    // (writer, commitIdx, landedVersion) per successful commit
    val landed = new ConcurrentLinkedQueue[(Int, Int, Int)]()
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val stageDir = new java.io.File(s"$scratch/oslog_race")
    org.apache.commons.io.FileUtils.deleteQuietly(stageDir)
    stageDir.mkdirs()

    val threads = (1 to WRITERS).map { w =>
      val t = new Thread(() => {
        start.await()
        try {
          var guess = 1
          for (c <- 0 until COMMITS) {
            // stage the manifest locally (attempt-unique name, the
            // TableLog.publish discipline), then claim versions
            // optimistically until a conditional PUT wins
            val payload = s"w$w-c$c"
            val tmpFile = new java.io.File(stageDir,
              s".w$w-c$c.${java.util.UUID.randomUUID}.tmp")
            java.nio.file.Files.write(tmpFile.toPath, payload.getBytes("UTF-8"))
            var done = false
            while (!done) {
              val dst = new Path(s"/tables/race/_log/v$guess.log")
              try {
                logStore.publishExclusive(conf,
                  new Path("file:" + tmpFile.getAbsolutePath), dst)
                landed.add((w, c, guess))
                done = true
              } catch {
                case _: FileAlreadyExistsException => // lost: next version
              }
              guess += 1
            }
          }
        } catch { case e: Throwable => failures.add(e) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(60000))
    import scala.jdk.CollectionConverters._
    assert(failures.isEmpty, s"writer failed: ${failures.asScala.toSeq}")

    // dense chain: exactly v1..v15, one object per version
    val keys = store.objects.keySet().asScala.toSeq.sorted
    val expectKeys = (1 to total).map(v => s"lake/tables/race/_log/v$v.log")
    assert(keys === expectKeys.sorted, s"chain not dense/unique: $keys")

    // every payload exactly once, and the bytes at each version are its
    // publisher's (no clobber under contention)
    val byVersion = landed.asScala.toSeq.map { case (w, c, v) =>
      v -> s"w$w-c$c"
    }.toMap
    assert(byVersion.size === total)
    (1 to total).foreach { v =>
      val bytes = new String(store.objects.get(s"lake/tables/race/_log/v$v.log"), "UTF-8")
      assert(bytes === byVersion(v), s"v$v bytes diverged")
    }

    // per-writer program order survives the retry loop
    for (w <- 1 to WRITERS) {
      val mine = landed.asScala.toSeq.filter(_._1 == w).sortBy(_._3).map(_._2)
      assert(mine === (0 until COMMITS), s"writer $w reordered: $mine")
    }

    // the race was real: more conditional claims than wins means losers
    // actually collided and retried through the 412 path
    assert(store.count("condput") >= total.toLong)
    // winners consumed their staged tmps; losers' stay ignorable dot-files
    val residue = stageDir.listFiles().map(_.getName)
    assert(residue.forall(_.startsWith(".")), residue.toSeq)
  }

  test("compaction racing blind appenders over conditional PUT: dense chain, appends survive, removes only ever name live files") {
    store.reset()
    val conf = spark.sparkContext.hadoopConfiguration
    val logStore = new ObjectStoreLogStore(baseUrl, Some("lake"))
    val prefix = "lake/tables/opt/_log/"
    val stageDir = new java.io.File(s"$scratch/oslog_opt_race")
    org.apache.commons.io.FileUtils.deleteQuietly(stageDir)
    stageDir.mkdirs()

    import scala.jdk.CollectionConverters._
    // chain replay straight from the STORE's bytes — the reader every
    // assertion below trusts is the object listing itself, not any
    // writer's bookkeeping
    val vRe = ("^" + java.util.regex.Pattern.quote(prefix) + "v(\\d+)\\.log$").r
    def manifests(): Seq[(Int, String)] =
      store.objects.keySet().asScala.toSeq
        .flatMap(k => vRe.findFirstMatchIn(k).map(m =>
          m.group(1).toInt -> new String(store.objects.get(k), "UTF-8")))
        .sortBy(_._1)
    def liveAt(ms: Seq[(Int, String)]): Seq[String] = {
      val live = scala.collection.mutable.LinkedHashSet.empty[String]
      ms.foreach { case (_, body) =>
        body.linesIterator.foreach(_.split("\t") match {
          case Array("add", p) => live += p
          case Array("remove", p) => live -= p
          case _ => ()
        })
      }
      live.toSeq
    }
    def publishBody(body: String, version: Int): Boolean = {
      val tmp = new java.io.File(stageDir,
        s".v$version.${java.util.UUID.randomUUID}.tmp")
      java.nio.file.Files.write(tmp.toPath, body.getBytes("UTF-8"))
      try {
        logStore.publishExclusive(conf,
          new Path("file:" + tmp.getAbsolutePath),
          new Path(s"/tables/opt/_log/v$version.log"))
        true
      } catch { case _: FileAlreadyExistsException => false }
    }

    val APPENDERS = 2
    val COMMITS = 6
    val COMPACTIONS = 3
    val start = new CountDownLatch(1)
    val failures = new ConcurrentLinkedQueue[Throwable]()

    // blind appenders: TableLog.commitWithRetry's shape — re-guess the
    // version on every 412, never look at anyone else's files
    val appenders = (1 to APPENDERS).map { w =>
      val t = new Thread(() => {
        start.await()
        try {
          var guess = 1
          for (c <- 0 until COMMITS) {
            while (!publishBody(s"add\tdata/w$w/c$c.parquet\n", guess))
              guess += 1
            guess += 1
          }
        } catch { case e: Throwable => failures.add(e) }
      })
      t.start(); t
    }
    // the compactor: Lakehouse.compactCommit's optimistic loop — read the
    // chain, pack the CURRENT live set, publish remove(inputs)+add(packed)
    // at head+1; on a lost race revalidate against the new head (inputs
    // all still live = blind appends, retry same actions; an input gone
    // would be a real conflict — impossible here, the appenders never
    // remove, and the assertion below proves it stayed impossible)
    val compactor = new Thread(() => {
      start.await()
      try {
        var done = 0
        while (done < COMPACTIONS) {
          val ms = manifests()
          val inputs = liveAt(ms)
          if (inputs.isEmpty) Thread.sleep(5)
          else {
            val packed = s"data/compact/p$done.parquet"
            val body = inputs.map(p => s"remove\t$p\n").mkString +
              s"add\t$packed\n"
            var v = ms.lastOption.map(_._1).getOrElse(0) + 1
            var landed = false
            while (!landed) {
              if (publishBody(body, v)) landed = true
              else {
                // lost to a concurrent commit — revalidate inputs at head
                val gone = inputs.filterNot(liveAt(manifests()).contains)
                assert(gone.isEmpty,
                  s"compaction input removed concurrently: $gone")
                v += 1
              }
            }
            done += 1
            Thread.sleep(2) // let appends interleave between compactions
          }
        }
      } catch { case e: Throwable => failures.add(e) }
    })
    compactor.start()
    start.countDown()
    (appenders :+ compactor).foreach(_.join(60000))
    assert(failures.isEmpty, s"writer failed: ${failures.asScala.toSeq}")

    val ms = manifests()
    // dense chain: v1..vN with no gaps — both commit types interleaved
    assert(ms.map(_._1) === (1 to ms.size), s"chain not dense: ${ms.map(_._1)}")
    assert(ms.size === APPENDERS * COMMITS + COMPACTIONS)
    // no payload lost: every appended file is either live at head or was
    // retired by a compaction that re-packed it — i.e. every add appears
    // exactly once, and every remove names a file added EARLIER and
    // still live at that point (the conflict rule held end to end)
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    val everAdded = scala.collection.mutable.Set.empty[String]
    ms.foreach { case (v, body) =>
      body.linesIterator.foreach(_.split("\t") match {
        case Array("add", p) =>
          assert(!everAdded.contains(p), s"v$v re-adds $p")
          everAdded += p; live += p
        case Array("remove", p) =>
          assert(live.contains(p), s"v$v removes non-live $p")
          live -= p
        case other => fail(s"v$v unexpected line: ${other.mkString("\\t")}")
      })
    }
    // every appender payload landed exactly once
    for (w <- 1 to APPENDERS; c <- 0 until COMMITS)
      assert(everAdded.contains(s"data/w$w/c$c.parquet"), s"lost w$w/c$c")
    // head state: the last compaction's pack plus appends that landed
    // after it — never empty, never a torn mix
    assert(live.contains(s"data/compact/p${COMPACTIONS - 1}.parquet"))
    assert(live.forall(p =>
      p.startsWith("data/compact/") || p.startsWith("data/w")))
  }

  test("forTable wiring: s3 scheme auto-routes to the object store, conf overrides force it, missing endpoint is loud") {
    val prevImpl = spark.conf.getOption("spark.graft.logstore")
    val prevEp = spark.conf.getOption("spark.graft.logstore.endpoint")
    try {
      spark.conf.set("spark.graft.logstore.endpoint", baseUrl)
      spark.conf.set("spark.graft.logstore", "auto")
      assert(LogStore.forTable(spark, new Path("s3://lake/t/_log/v1.log"))
        .isInstanceOf[ObjectStoreLogStore])
      assert(!LogStore.forTable(spark, new Path("file:/tmp/t/_log/v1.log"))
        .isInstanceOf[ObjectStoreLogStore])
      spark.conf.set("spark.graft.logstore", "objectstore")
      assert(LogStore.forTable(spark, new Path("/t/_log/v1.log"))
        .isInstanceOf[ObjectStoreLogStore])
      spark.conf.unset("spark.graft.logstore.endpoint")
      val e = intercept[IllegalArgumentException] {
        LogStore.forTable(spark, new Path("s3://lake/t/_log/v1.log"))
      }
      assert(e.getMessage.contains("endpoint"))
    } finally {
      prevImpl.fold(spark.conf.unset("spark.graft.logstore"))(
        spark.conf.set("spark.graft.logstore", _))
      prevEp.fold(spark.conf.unset("spark.graft.logstore.endpoint"))(
        spark.conf.set("spark.graft.logstore.endpoint", _))
    }
  }

  test("s3:// dst maps authority->bucket, path->key; publish is byte-faithful and tmp is consumed") {
    store.reset()
    val conf = spark.sparkContext.hadoopConfiguration
    val logStore = new ObjectStoreLogStore(baseUrl, bucket = None)
    val tmpFile = java.io.File.createTempFile("manifest", ".tmp",
      new java.io.File(scratch))
    val body = "add\tpart-0001.parquet\n"
    java.nio.file.Files.write(tmpFile.toPath, body.getBytes("UTF-8"))
    logStore.publishExclusive(conf,
      new Path("file:" + tmpFile.getAbsolutePath),
      new Path("s3://lake/tables/t/_log/v7.log"))
    assert(new String(store.objects.get("lake/tables/t/_log/v7.log"), "UTF-8") === body)
    assert(!tmpFile.exists(), "staged tmp must be consumed on success")
    // second publish of the same version loses loudly
    val tmp2 = java.io.File.createTempFile("manifest2", ".tmp",
      new java.io.File(scratch))
    java.nio.file.Files.write(tmp2.toPath, "other".getBytes("UTF-8"))
    intercept[FileAlreadyExistsException] {
      logStore.publishExclusive(conf,
        new Path("file:" + tmp2.getAbsolutePath),
        new Path("s3://lake/tables/t/_log/v7.log"))
    }
    assert(new String(store.objects.get("lake/tables/t/_log/v7.log"), "UTF-8") === body,
      "a lost publish must not clobber the winner")
  }
}
