package graft

import org.apache.spark.sql.functions._

/** Clustering family (l29/l29b/l30): the full-width integer Lloyd
  * recomputed from plain Scala, the distance expansion re-derived, the
  * prune cut re-counted, and the zero-exchange assignment plan pinned —
  * the engine-determinism claims the DuckDB hash compare asserts once,
  * restated as first principles (the PqSpec pattern). */
class ClusteringSpec extends SparkSpecBase {

  private val C = graft.llm.Clustering

  /** The reference fit (LloydRef at full width, M = 1) and its final
    * assignment under the FINAL codebook: vec_id -> (cluster, dist). */
  private def refCluster(vecs: Map[Long, Array[Long]]): Map[Long, (Int, Long)] = {
    val dim = vecs.head._2.length
    val cent = LloydRef.fit(vecs, dim, C.KM_K, C.KM_ITERS)
    vecs.map { case (id, q) => id -> LloydRef.encode(q, cent, dim).head }
  }

  private def fixtureVecs(): Map[Long, Array[Long]] = LloydRef.fixtureVecs(spark, sfDir)

  test("l29: assignment + distance equal the plain-Scala Lloyd reference; k-means ran") {
    val want = refCluster(fixtureVecs())
    val got = C.l29KmeansCluster(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got === want)
    // clustering is non-trivial on the fixture: >1 cluster in use, and
    // the assignment moved off the init (vec_id c no longer owns only c)
    assert(got.values.map(_._1).toSet.size > 1)
    assert(got.values.forall(_._2 >= 0L))
  }

  test("l29: partitioning invariance — 7-way repartition changes nothing") {
    val base = C.l29KmeansCluster(spark, sfDir).collect().toSeq
    val emb = Tables.embeddings(spark, sfDir).repartition(7)
    val cent = graft.llm.Clustering.kmTrain(spark, sfDir)
    val again = C.assignWithDist(emb, cent)
      .orderBy(col("vec_id")).collect().toSeq
    assert(again === base)
  }

  test("l29b: profile re-derives from l29 x documents; masses conserve") {
    import spark.implicits._
    val assign = C.l29KmeansCluster(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val want = assign.groupBy(_._2).map { case (c, members) =>
      c -> (members.length.toLong,
        members.map(m => docs(m._1)._1).distinct.length.toLong,
        members.map(m => docs(m._1)._2).sum,
        members.map(_._3).sum)
    }
    val got = C.l29bClusterProfile(spark, sfDir).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === want)
    // every vector is profiled exactly once
    assert(got.values.map(_._1).sum === assign.length.toLong)
  }

  test("l30: prune drops exactly ceil(frac*n) most-prototypical per cluster") {
    val all = C.l29KmeansCluster(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val kept = C.l30ClusterPrune(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    val byC = all.groupBy(_._2)
    byC.foreach { case (c, members) =>
      val cut = math.ceil(C.KM_PRUNE_FRAC * members.length).toLong
      val ranked = members.sortBy(m => (m._3, m._1))
      val wantKept = ranked.drop(cut.toInt)
        .zipWithIndex.map { case (m, i) => (m._1, c, m._3, (cut + i + 1).toInt) }
      val gotKept = kept.filter(_._2 == c).sortBy(_._4)
      assert(gotKept.toSeq === wantKept.toSeq, s"cluster $c")
    }
    // the pruned docs are the per-cluster distance minima (prototypes)
    val keptIds = kept.map(_._1).toSet
    byC.foreach { case (c, members) =>
      val pruned = members.filterNot(m => keptIds.contains(m._1))
      val maxPruned = if (pruned.isEmpty) Long.MinValue else pruned.map(_._3).max
      val minKept = members.filter(m => keptIds.contains(m._1)).map(_._3).min
      assert(maxPruned <= minKept, s"cluster $c pruned a non-prototype")
    }
  }

  test("l30b: per-cluster cap holds; the draw is the md5 key order") {
    val got = C.l30bBalancedSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val byC = got.groupBy(_._2)
    assert(byC.values.forall(_.length <= C.KM_SAMPLE_PER_CLUSTER))
    assert(byC.values.exists(_.length == C.KM_SAMPLE_PER_CLUSTER),
      "no cluster filled its quota — fixture too small for the cap")
    // recompute the draw: per cluster, the sample is the first
    // KM_SAMPLE_PER_CLUSTER ids under the 20-bit md5 hex-fold key
    def key(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"s#$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(3).map("%02x".format(_)).mkString.take(5), 16)
    }
    val assign = C.l29KmeansCluster(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val want = assign.groupBy(_._2).toSeq.flatMap { case (c, members) =>
      members.map(_._1).sortBy(id => (key(id), id))
        .take(C.KM_SAMPLE_PER_CLUSTER)
        .zipWithIndex.map { case (id, i) => (id, c, i + 1) }
    }.toSet
    assert(got.toSet === want)
  }

  test("l31: drop rule recomputes from pairs; threshold margins hold; non-vacuous") {
    val vecs = fixtureVecs()
    val all = C.l29KmeansCluster(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val got = C.l31SemDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === all.toSeq)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val qq = vecs.map { case (id, v) => id -> dot(v, v) }
    val byC = all.groupBy(_._2)
    var margined = 0
    val wantKeep = all.map { case (id, c, dist) =>
      val exists = byC(c).exists { case (yid, _, ydist) =>
        yid != id && (ydist > dist || (ydist == dist && yid < id)) && {
          val d = dot(vecs(id), vecs(yid)).toDouble
          val bound = C.SEMDEDUP_TAU * math.sqrt(qq(id).toDouble) * math.sqrt(qq(yid).toDouble)
          // every decision this fixture takes clears the threshold
          // boundary by orders of magnitude more than a ulp (the l28
          // margin discipline — both engines compute the identical
          // double from identical exact-integer inputs, so the only
          // risk band is last-ulp wide; 1e-9 relative is ~1e4 ulps)
          assert(math.abs(d - bound) > 1e-9 * math.abs(bound), s"pair ($id,$yid) on the boundary")
          margined += 1
          d >= bound
        }
      }
      id -> !exists
    }.toMap
    assert(margined > 0)
    assert(got.map(t => t._1 -> t._4).toMap === wantKeep)
    // the screen is non-vacuous on the fixture: both outcomes occur
    assert(got.exists(_._4) && got.exists(!_._4))
  }

  test("l31_sized: the sampled-Lloyd serve path reproduces l31 exactly at fixture scale") {
    // at N=500 the hash-sample modulus is 1 (full corpus) and
    // K = max(8, N/512) = 8 with init = vec_id < 8 — so the sized path
    // must train the IDENTICAL codebook and emit the identical keep set
    val base = C.l31SemDedup(spark, sfDir).collect().map(_.toSeq).toSeq
    val sized = C.l31Sized(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(sized === base)
  }

  test("l29 plan: assignment + distance is exchange-free (projections only)") {
    val cent = graft.llm.Clustering.kmTrain(spark, sfDir)
    val p = C.assignWithDist(Tables.embeddings(spark, sfDir), cent)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"assignment introduced a shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("codebook memo: the Lloyd fit is paid once; memo and disk replay it job-free") {
    // pins the r11 BENCHNOTES fix: l29b/l30/l30b/l31/r14 each re-derived
    // the same 2-pass training per query. Now the first consumer pays the
    // fit; every later consumer — same JVM (memo) or a fresh session
    // reading the stamped artifact — runs ZERO Spark jobs to get the
    // bit-identical codebook. Job counts come from per-group status
    // polling, with a drain job after each probe so the async listener
    // bus (FIFO) cannot race a false pass.
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    def drainAfter(group: String): Unit = {
      sc.setJobGroup(s"$group-drain", "")
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (tracker.getJobIdsForGroup(s"$group-drain").isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(tracker.getJobIdsForGroup(s"$group-drain").nonEmpty,
        "listener bus never drained")
    }
    val art = C.codebookFile(spark, sfDir, "base")
    C.clearCodebookMemo()
    java.nio.file.Files.deleteIfExists(art)
    // cold: the fit runs real jobs and stamps the artifact
    sc.setJobGroup("km-cold", ""); val first = C.kmTrain(spark, sfDir); sc.clearJobGroup()
    drainAfter("km-cold")
    assert(tracker.getJobIdsForGroup("km-cold").nonEmpty, "cold fit ran no jobs?")
    assert(java.nio.file.Files.isRegularFile(art), "fit did not publish its artifact")
    assert(graft.Stamp.holds(art.getParent.toString, graft.llm.AnnIndex.sourceFingerprint(sfDir)),
      "fit did not stamp its artifact")
    // warm, same JVM: memo hit, zero jobs
    sc.setJobGroup("km-warm", ""); val second = C.kmTrain(spark, sfDir); sc.clearJobGroup()
    drainAfter("km-warm")
    assert(second === first)
    assert(tracker.getJobIdsForGroup("km-warm").isEmpty,
      "in-JVM memoized fit re-ran Spark jobs")
    // cold JVM simulated: memo dropped, the stamped artifact replays the
    // exact fit — still zero jobs
    C.clearCodebookMemo()
    sc.setJobGroup("km-disk", ""); val third = C.kmTrain(spark, sfDir); sc.clearJobGroup()
    drainAfter("km-disk")
    assert(third === first)
    assert(tracker.getJobIdsForGroup("km-disk").isEmpty,
      "disk-replayed fit re-ran Spark jobs")
  }

  test("codebook memo: a torn artifact (valid stamp, truncated body) is refit, not replayed") {
    // r12-advice hardening: the publish is now temp-file + ATOMIC_MOVE so
    // a crash cannot leave a partial file at the validated path at all —
    // and if one lands anyway (copied in, disk corruption), the
    // record-count trailer written LAST must agree with the body, else
    // the loader falls back to the fit. Three torn shapes: body cut
    // mid-rows, the final long cut mid-digits (still parses as a long!),
    // and a missing trailer.
    import scala.jdk.CollectionConverters._
    val art = C.codebookFile(spark, sfDir, "base")
    C.clearCodebookMemo()
    java.nio.file.Files.deleteIfExists(art)
    val good = C.kmTrain(spark, sfDir)
    val lines = java.nio.file.Files.readAllLines(art).asScala.toSeq
    assert(lines.last === s"# n=${lines.length - 1}", "trailer missing on a clean publish")
    val torn = Seq(
      lines.dropRight(1 + lines.length / 2),                 // body cut, no trailer
      lines.dropRight(1).init :+ lines.init.last.dropRight(3), // last long cut mid-digits
      lines.dropRight(1))                                    // trailer alone missing
    torn.foreach { shape =>
      java.nio.file.Files.write(art, shape.asJava)
      C.clearCodebookMemo()
      val refit = C.kmTrain(spark, sfDir)
      assert(refit === good, "torn artifact replayed instead of refitting")
      // the refit re-publishes a complete artifact
      val repaired = java.nio.file.Files.readAllLines(art).asScala.toSeq
      assert(repaired.last === s"# n=${repaired.length - 1}")
      assert(repaired === lines)
    }
  }
}
