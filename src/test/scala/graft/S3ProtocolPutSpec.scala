package graft

import java.util.concurrent.ConcurrentHashMap

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.functions._

import graft.sources.ObjectStore

/** S8 driven END TO END over the real S3 REST protocol against an
  * in-process object store (the HttpSourceSpec pattern — no aws-sdk or
  * MinIO binary exists in this sandbox, but the protocol itself needs
  * neither): single-part PUT under the threshold, the 3-phase
  * Initiate → UploadPart → Complete sequence above it (minio.rs:139–242
  * semantics), byte-identical assembly, the strict `size > chunk` fence,
  * ETag echo validation, and the distributed spool upload whose objects
  * read back as the same parquet rows. The server VALIDATES, not just
  * records: a part ETag mis-echoed at complete time, an out-of-order
  * part list, or a completed object diverging from the source bytes all
  * fail the spec. */
/** Shared store instance for this spec's call-shape assertions
  * (state + server logic live in [[S3StoreState]]/[[S3TestServer]]). */
object S3Store extends S3StoreState

class S3ProtocolPutSpec extends SparkSpecBase {

  private var server: HttpServer = _
  private var baseUrl: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    val (srv, url) = S3TestServer.start(S3Store)
    server = srv
    baseUrl = url
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  private def scratch = graft.operators.Etl.scratch(spark)

  private def writeBytes(name: String, n: Int): java.io.File = {
    val f = new java.io.File(s"$scratch/s3put/$name")
    f.getParentFile.mkdirs()
    val rnd = new java.util.Random(42)
    val bytes = new Array[Byte](n); rnd.nextBytes(bytes)
    java.nio.file.Files.write(f.toPath, bytes)
    f
  }

  test("single-part: a file within one chunk ships as ONE plain PUT") {
    S3Store.reset()
    val f = writeBytes("small.parquet", 10000)
    val r = ObjectStore.putFile(baseUrl, "corpus", "spool/small.parquet", f,
      chunkSize = 64 * 1024)
    assert(r.parts === 0 && r.size === 10000L)
    assert(S3Store.count("put") === 1 && S3Store.count("initiate") === 0 &&
      S3Store.count("part") === 0 && S3Store.count("complete") === 0)
    val stored = S3Store.objects.get("corpus/spool/small.parquet")
    assert(stored.toSeq === java.nio.file.Files.readAllBytes(f.toPath).toSeq,
      "single-part bytes diverged")
    assert(r.etag === "\"" + S3Store.md5hex(stored) + "\"")
  }

  test("multipart: chunked parts, ETag echo, byte-identical assembly") {
    S3Store.reset()
    val chunk = 64 * 1024
    val size = chunk * 2 + 12345 // 3 parts, ragged tail
    val f = writeBytes("big.parquet", size)
    val r = ObjectStore.putFile(baseUrl, "corpus", "spool/big.parquet", f,
      chunkSize = chunk)
    assert(r.parts === 3 && r.size === size.toLong)
    assert(S3Store.count("initiate") === 1 && S3Store.count("part") === 3 &&
      S3Store.count("complete") === 1 && S3Store.count("put") === 0)
    val stored = S3Store.objects.get("corpus/spool/big.parquet")
    assert(stored.length === size)
    assert(stored.toSeq === java.nio.file.Files.readAllBytes(f.toPath).toSeq,
      "multipart assembly diverged from the source bytes")
    // the completed-object etag carries the S3 multipart marker
    assert(r.etag.endsWith("-3\""), s"unexpected multipart etag ${r.etag}")
  }

  test("the fence is STRICTLY greater-than: an exactly-chunk-sized file is single-part") {
    // minio.rs:143 `if file_size > CHUNK_SIZE` — a file of exactly one
    // chunk must NOT pay the 3-phase protocol
    S3Store.reset()
    val chunk = 64 * 1024
    val f = writeBytes("exact.parquet", chunk)
    val r = ObjectStore.putFile(baseUrl, "corpus", "spool/exact.parquet", f,
      chunkSize = chunk)
    assert(r.parts === 0)
    assert(S3Store.count("put") === 1 && S3Store.count("initiate") === 0)
    // one byte more crosses it
    val g = writeBytes("over.parquet", chunk + 1)
    val r2 = ObjectStore.putFile(baseUrl, "corpus", "spool/over.parquet", g,
      chunkSize = chunk)
    assert(r2.parts === 2)
    assert(S3Store.count("initiate") === 1)
  }

  test("a failed part surfaces as an error, never a silently short object") {
    S3Store.reset()
    val f = writeBytes("doomed.parquet", 200 * 1024)
    S3Store.failParts = true
    val e = intercept[IllegalArgumentException] {
      ObjectStore.putFile(baseUrl, "corpus", "spool/doomed.parquet", f,
        chunkSize = 64 * 1024)
    }
    assert(e.getMessage.contains("HTTP 500"))
    assert(!S3Store.objects.containsKey("corpus/spool/doomed.parquet"),
      "a failed upload left a committed object")
    // r12-advice: the failure path must ABORT the upload — a real store
    // bills the staged parts forever otherwise (invisible to LIST, only
    // a lifecycle rule reclaims them)
    assert(S3Store.count("abort") === 1, "failed part did not abort the upload")
    assert(S3Store.uploads.isEmpty, "abort left staged parts in flight")
  }

  test("keys with spaces and reserved characters percent-encode on the wire, both paths") {
    S3Store.reset()
    val key = "spool dir/run=1/odd+name #7&q?.parquet"
    val small = writeBytes("odd_small.parquet", 10000)
    val r1 = ObjectStore.putFile(baseUrl, "corpus", key, small, chunkSize = 64 * 1024)
    assert(r1.parts === 0)
    val stored1 = S3Store.objects.get(s"corpus/$key")
    assert(stored1 != null,
      s"decoded key missing; stored keys = ${S3Store.objects.keySet()}")
    assert(stored1.toSeq === java.nio.file.Files.readAllBytes(small.toPath).toSeq)
    val big = writeBytes("odd_big.parquet", 200 * 1024)
    val r2 = ObjectStore.putFile(baseUrl, "corpus", key, big, chunkSize = 64 * 1024)
    assert(r2.parts === 4)
    assert(S3Store.objects.get(s"corpus/$key").toSeq ===
      java.nio.file.Files.readAllBytes(big.toPath).toSeq,
      "multipart assembly diverged on the encoded key")
  }

  test("s8: the bucket preflight fails LOUDLY before any upload — missing bucket and dead endpoint both name the context") {
    S3Store.reset()
    // missing bucket: one HEAD, a contextual error, zero PUTs attempted
    val e1 = intercept[IllegalStateException] {
      ObjectStore.s8UploadDir(spark, s"$scratch/s3put/nonexistent-spool",
        baseUrl, "no-such-bucket", "export/run0")
    }
    assert(e1.getMessage.contains("no-such-bucket") &&
      e1.getMessage.contains("404"))
    assert(S3Store.count("head") === 1L)
    assert(S3Store.count("put") === 0L,
      "a failed preflight must stop the job before any PUT")
    // dead endpoint: the connect failure carries endpoint + bucket, not a
    // bare socket trace from the first uploading executor
    val e2 = intercept[IllegalStateException] {
      ObjectStore.headBucket("http://127.0.0.1:1", "corpus")
    }
    assert(e2.getMessage.contains("unreachable") &&
      e2.getMessage.contains("corpus"))
    // and a bucket that exists preflights clean
    S3Store.buckets.add("corpus")
    ObjectStore.headBucket(baseUrl, "corpus")
  }

  test("s8: a written parquet spool ships distributed and reads back as the same rows") {
    import spark.implicits._
    S3Store.reset()
    S3Store.buckets.add("corpus")
    val spool = s"$scratch/s3put/spool_dir"
    val slice = graft.operators.Etl.vendorFrame(spark, sfDir,
      $"o_orderdate" >= lit("2000-03-01").cast("timestamp")
        && $"o_orderdate" < lit("2000-03-05").cast("timestamp"))
    slice.repartition(4).write.mode("overwrite").parquet(spool)
    val expected = slice.count()
    // a tiny chunk forces the multipart path on real parquet part files
    val manifest = ObjectStore.s8UploadDir(spark, spool, baseUrl, "corpus",
      "export/run1", chunkSize = 16 * 1024).collect()
    val dataFiles = new java.io.File(spool).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(manifest.length === dataFiles.length)
    manifest.zip(dataFiles).foreach { case (row, f) =>
      assert(row.getAs[String]("key") === s"export/run1/${f.getName}")
      assert(row.getAs[Long]("size") === f.length())
    }
    // download every object and read the assembled parquet back
    val back = s"$scratch/s3put/downloaded"
    val backDir = new java.io.File(back)
    org.apache.commons.io.FileUtils.deleteQuietly(backDir)
    backDir.mkdirs()
    manifest.foreach { row =>
      val key = row.getAs[String]("key")
      val bytes = S3Store.objects.get(s"corpus/$key")
      assert(bytes != null, s"object $key missing from the store")
      java.nio.file.Files.write(
        new java.io.File(backDir, key.split('/').last).toPath, bytes)
    }
    assert(spark.read.parquet(back).count() === expected,
      "round-tripped spool lost rows")
  }
}
