package graft.core

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

import graft.SparkSuite

/** The prepared-statement plan memo's contract: construction is
  * skipped on a hit, execution is NOT (fresh QueryExecution per call,
  * so exchanges re-run), impure constructions are never served from
  * the memo, and a regenerated fixture invalidates. */
class PlanMemoSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("hit skips construction but yields identical results") {
    var builds = 0
    val fn = PlanMemo.cached("pm_test_pure", (s, dir) => {
      builds += 1
      Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
    })
    Tables.load(spark, sf, "nation").count() // warm the relation memo
    val r1 = fn(spark, sf).collect().map(_.toString).sorted
    val r2 = fn(spark, sf).collect().map(_.toString).sorted
    val r3 = fn(spark, sf).collect().map(_.toString).sorted
    assert(builds === 1, "second call must be served from the memo")
    assert(r1 === r2 && r2 === r3)
    assert(r1.length === 25)
  }

  test("fingerprint: size changes invalidate; IO errors never collide") {
    val dir = Files.createTempDirectory("graft-fp").toFile
    val f = new java.io.File(dir, "part-0.parquet")
    java.nio.file.Files.writeString(f.toPath, "aaaa")
    val fp1 = PlanMemo.fingerprint(dir.toString)
    assert(fp1 >= 0, "computed fingerprints stay out of the sentinel range")
    // same mtime tick, different SIZE — the r15 tightening: byte
    // movement invalidates even when millisecond mtimes collide
    val mtime = java.nio.file.Files.getLastModifiedTime(f.toPath)
    java.nio.file.Files.writeString(f.toPath, "aaaaaaaa")
    java.nio.file.Files.setLastModifiedTime(f.toPath, mtime)
    java.nio.file.Files.setLastModifiedTime(dir.toPath,
      java.nio.file.Files.getLastModifiedTime(dir.toPath))
    val fp2 = PlanMemo.fingerprint(dir.toString)
    assert(fp2 !== fp1, "a same-tick rewrite that moves bytes must " +
      "change the fingerprint")
    // an unreadable dir yields a FRESH sentinel per call, so no cache
    // keyed on it can ever hit — errors rebuild, never serve stale
    val gone = new java.io.File(dir, "never-created").toString
    val e1 = PlanMemo.fingerprint(gone)
    val e2 = PlanMemo.fingerprint(gone)
    assert(e1 < 0 && e2 < 0 && (e1 !== e2),
      "IO-error fingerprints must be unique negative sentinels")
    f.delete(); dir.delete()
  }

  test("fingerprint: same-size same-mtime rewrite changes the probe") {
    // The r16 content probe (first/last 4 KiB per child): a rewrite
    // that preserves BOTH the size and the millisecond mtime — the
    // r15 fingerprint's residual blind spot — must still invalidate
    // whenever it touches either probe window.
    val dir = Files.createTempDirectory("graft-fp-probe").toFile
    val f = new java.io.File(dir, "part-0.parquet")
    java.nio.file.Files.write(f.toPath, Array.fill[Byte](16384)(1))
    val dirM = java.nio.file.Files.getLastModifiedTime(dir.toPath)
    val fM = java.nio.file.Files.getLastModifiedTime(f.toPath)
    val fp1 = PlanMemo.fingerprint(dir.toString)
    // head-window rewrite, size and mtimes restored
    val raf = new java.io.RandomAccessFile(f, "rw")
    raf.seek(10); raf.writeByte(2); raf.close()
    java.nio.file.Files.setLastModifiedTime(f.toPath, fM)
    java.nio.file.Files.setLastModifiedTime(dir.toPath, dirM)
    val fp2 = PlanMemo.fingerprint(dir.toString)
    assert(fp2 !== fp1, "head-window content change must invalidate")
    // tail-window rewrite (parquet's footer case), same restoration
    val raf2 = new java.io.RandomAccessFile(f, "rw")
    raf2.seek(16384 - 10); raf2.writeByte(3); raf2.close()
    java.nio.file.Files.setLastModifiedTime(f.toPath, fM)
    java.nio.file.Files.setLastModifiedTime(dir.toPath, dirM)
    val fp3 = PlanMemo.fingerprint(dir.toString)
    assert(fp3 !== fp2, "tail-window content change must invalidate")
    f.delete(); dir.delete()
  }

  test("unreadable dir bypasses the memo: constructs fresh, never grows") {
    val session = spark.newSession()
    val gone = "/tmp/graft-pm-never-created-" + System.nanoTime()
    var builds = 0
    val fn = PlanMemo.cached("pm_test_sentinel", (s, _) => {
      builds += 1
      s.range(3).toDF("id") // job-free construction — the leak shape
    })
    val before = PlanMemo.entriesFor(session)
    assert(fn(session, gone).count() === 3)
    assert(fn(session, gone).count() === 3)
    assert(builds === 2, "sentinel calls must construct fresh every time")
    assert(PlanMemo.entriesFor(session) === before,
      "an unreadable dir must not add memo entries (r16 leak pin)")
  }

  test("serving a memoized analyzed plan pays no re-analysis") {
    // The hit path (PlanMemo.cached and the q56 batch memo) rebuilds
    // a Dataset via PlanBridge.ofRows over the STORED analyzed tree.
    // Spark's Analyzer.executeAndCheck early-returns any plan whose
    // `analyzed` flag is set — which queryExecution.analyzed trees
    // carry — so the fresh QueryExecution's analysis phase is a flag
    // check, not a rule sweep. Pin it by identity: if the analyzer
    // re-ran, the new `analyzed` would be a transformed COPY.
    import spark.implicits._
    val plan = Seq((1, "a"), (2, "a")).toDF("k", "v")
      .groupBy($"v").count().queryExecution.analyzed
    val served = org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark, plan)
    assert(served.queryExecution.analyzed eq plan,
      "ofRows over an already-analyzed tree must early-return it " +
        "(the memo hit path relies on this to skip re-analysis)")
    assert(served.collect().map(_.getLong(1)).toSeq === Seq(2L))
  }

  test("a construction that runs Spark jobs is never memoized") {
    var builds = 0
    val fn = PlanMemo.cached("pm_test_impure", (s, dir) => {
      builds += 1
      val n = Tables.load(s, dir, "region").count() // a job per call
      Tables.load(s, dir, "region").limit(n.toInt)
    })
    fn(spark, sf).collect()
    fn(spark, sf).collect()
    assert(builds === 2,
      "impure construction must re-run fn on every call")
  }

  test("hit serves a fresh plan whose execution re-runs (not a result cache)") {
    // A shuffling aggregate: if the memo reused executed state, the
    // second call's QueryExecution would be the same object; it must
    // not be, and both must agree with a direct computation.
    val fn = PlanMemo.cached("pm_test_fresh", (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_orderstatus").count())
    val d1 = fn(spark, sf)
    d1.collect()
    val d2 = fn(spark, sf)
    assert(d1.queryExecution ne d2.queryExecution,
      "each call must get its own QueryExecution")
    assert(d2.collect().map(_.toString).sorted ===
      Tables.load(spark, sf, "orders").groupBy("o_orderstatus").count()
        .collect().map(_.toString).sorted)
  }

  test("rewritten fixture invalidates the memo") {
    val dir = Files.createTempDirectory("pm_inval").toString
    def write(rows: Seq[Int]): Unit = {
      import spark.implicits._
      rows.toDF("v").coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/t.parquet")
    }
    write(Seq(1, 2, 3))
    val fn = PlanMemo.cached("pm_test_stale", (s, d) =>
      s.read.parquet(s"$d/t.parquet"))
    def settled(): Unit = { // distinct mtimes across rewrites
      Thread.sleep(1100)
    }
    fn(spark, dir).count() // may be impure (cold listing) — probe again
    val n1 = fn(spark, dir).count()
    assert(n1 === 3)
    settled()
    write(Seq(1, 2, 3, 4, 5))
    val n2 = fn(spark, dir).count()
    assert(n2 === 5, "fingerprint must invalidate on fixture rewrite")
  }

  test("memo-hit results are identical to a never-wrapped fresh construction") {
    // The end-to-end value-parity canary: one relational join, one
    // windowed rank, one dedup-family query, each executed BOTH ways —
    // through SparkEntry's memo wrapper (second call = served from the
    // cached optimized plan) and through the module's RAW function
    // (never wrapped, full construction) — with identical collected
    // results required. Reference-equality of the served logical plan
    // across two wrapped calls witnesses that the hit path actually
    // engaged (a query pinned non-memoizable would silently pass the
    // value check while testing nothing).
    val cases: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        DataFrame)] = Seq(
      "q09_join_inner" -> graft.queries.Relational.queries("q09_join_inner"),
      "q176_domain_cap" -> graft.queries.Curation.queries("q176_domain_cap"),
      "q20_dedup_exact" -> graft.queries.Dedup.queries("q20_dedup_exact"))
    for ((name, raw) <- cases) {
      val wrapped = graft.SparkEntry.queries(name)
      // prime twice: a cold first construction legitimately runs jobs
      // (relation-memo listing) and is probed out, the second
      // constructs job-free and memoizes; calls 3+ are hits
      wrapped(spark, sf).collect()
      wrapped(spark, sf).collect()
      val hit1 = wrapped(spark, sf)
      val hit2 = wrapped(spark, sf)
      assert(hit1.queryExecution.logical eq hit2.queryExecution.logical,
        s"$name: expected memo hits to serve the cached plan instance")
      val viaMemo = hit1.collect().map(_.toString).sorted
      val fresh = raw(spark, sf).collect().map(_.toString).sorted
      assert(viaMemo === fresh, s"$name: memo-hit diverged from fresh run")
    }
  }

  test("PreparedTransform: builds once, each lift executes the batch's own data") {
    import spark.implicits._
    var builds = 0
    val prepared = new PreparedTransform(spark,
      Seq((0L, "x")).toDF("k", "v").schema,
      b => { builds += 1; b.groupBy($"v").count() })
    assert(builds === 1, "template is built at construction")
    // two different batches: each lift must compute over ITS leaf —
    // nothing result-shaped can leak across lifts
    val b1 = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "v")
    val b2 = Seq((4L, "c"), (5L, "c"), (6L, "c"), (7L, "d")).toDF("k", "v")
    val r1 = prepared.lift(b1).collect().map(r =>
      (r.getString(0), r.getLong(1))).sortBy(_._1)
    val r2 = prepared.lift(b2).collect().map(r =>
      (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(builds === 1, "lift must not reconstruct the pipeline")
    assert(r1 === Seq(("a", 2L), ("b", 1L)))
    assert(r2 === Seq(("c", 3L), ("d", 1L)))
    // a schema-incompatible batch fails loud, never mis-splices
    val bad = Seq(("x", 1L)).toDF("k", "v") // columns transposed
    intercept[IllegalArgumentException](prepared.lift(bad))
  }

  test("PreparedTransform retains no SparkSession field") {
    // The collectability contract (class doc): a session-keyed weak
    // memo of PreparedTransform instances can only collect if the
    // value holds no strong reference back to the key. Pin it
    // structurally — no declared field of the class (or any field's
    // static type) may be a SparkSession or a Dataset/DataFrame
    // (which holds its session); the construction session must exist
    // only as an un-promoted constructor parameter.
    import org.apache.spark.sql.SparkSession
    val banned = Seq(classOf[SparkSession],
      classOf[org.apache.spark.sql.Dataset[_]])
    val offending = classOf[PreparedTransform].getDeclaredFields.filter(f =>
      banned.exists(b => b.isAssignableFrom(f.getType) ||
        f.getType.isAssignableFrom(b)))
    assert(offending.isEmpty,
      s"session-strong fields: ${offending.map(_.getName).mkString(",")}")
    // and lift must serve through the BATCH's session — construct
    // with a DISTINCT session so the assertion has teeth (built from
    // `spark` on both sides, `eq spark` would pass even if lift
    // served through the construction session)
    import spark.implicits._
    val ctorSession = spark.newSession()
    assert(!(ctorSession eq spark))
    val p = new PreparedTransform(ctorSession,
      Seq((0L, "x")).toDF("k", "v").schema, b => b.select($"v"))
    val lifted = p.lift(Seq((1L, "a")).toDF("k", "v"))
    assert(lifted.sparkSession eq spark,
      "lift must bind to the batch's session, not the construction one")
    assert(lifted.collect().map(_.getString(0)).toSeq === Seq("a"))
  }

  test("PreparedTransform transitively retains no SparkSession (deep walk)") {
    // The static-field guard above can't see a session captured
    // TRANSITIVELY — through a UDF closure, an encoder, or a plan
    // node buried in the analyzed template (the r14 ADVICE residual).
    // Walk the whole reachable object graph from a representative
    // instance (including a Scala-UDF closure, the classic capture
    // channel) and assert no SparkSession is reachable: that IS the
    // collectability contract, checked structurally.
    import spark.implicits._
    val ctor = spark.newSession()
    val up = org.apache.spark.sql.functions.udf((s: String) => s.toUpperCase)
    val p = new PreparedTransform(ctor,
      Seq((0L, "x")).toDF("k", "v").schema,
      b => b.filter($"k" >= 0).select(up($"v").as("u"))
        .groupBy($"u").count())

    def findSession(root: AnyRef): (Option[String], Int) = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
      val queue = new java.util.ArrayDeque[AnyRef]()
      def prune(r: AnyRef): Boolean = r match {
        case null => true
        case _: String | _: java.lang.Number | _: java.lang.Boolean |
             _: java.lang.Character | _: java.lang.Class[_] => true
        case a if a.getClass.isArray &&
          a.getClass.getComponentType.isPrimitive => true
        case _ => false
      }
      def enqueue(o: AnyRef): Unit =
        if (!prune(o) && seen.add(o)) queue.add(o)
      enqueue(root)
      var found: Option[String] = None
      var walked = 0
      while (!queue.isEmpty && found.isEmpty) {
        val cur = queue.poll()
        walked += 1
        cur match {
          case _: org.apache.spark.sql.SparkSession =>
            found = Some(cur.getClass.getName)
          case arr: Array[_] =>
            arr.foreach { case r: AnyRef => enqueue(r); case _ => () }
          case _ =>
            var c: Class[_] = cur.getClass
            while (c != null) {
              c.getDeclaredFields.foreach { f =>
                if (!java.lang.reflect.Modifier.isStatic(f.getModifiers) &&
                  !f.getType.isPrimitive)
                  try { f.setAccessible(true); enqueue(f.get(cur)) }
                  catch { case _: Throwable => () } // unopened JDK module: skip
              }
              c = c.getSuperclass
            }
        }
      }
      (found, walked)
    }
    // the detector must be able to FIND a session where one is
    // genuinely reachable (a Dataset holds its session), or the clean
    // result below proves nothing
    val (positive, _) = findSession(Seq((1L, "a")).toDF("k", "v"))
    assert(positive.nonEmpty,
      "walker failed to find the session inside a Dataset — detector broken")
    val (found, walked) = findSession(p)
    info(s"walked $walked objects from the prepared transform")
    assert(found.isEmpty,
      s"a SparkSession (${found.getOrElse("")}) is transitively " +
        "reachable from PreparedTransform — the session-keyed weak " +
        "memo would pin its key and never collect")
    // and the PRODUCTION q56 transform shape (full decrypt+validate
    // export pipeline incl. key-service closures and the sink-input
    // projection) — the instance whose collectability actually
    // matters to the q56LiftMemo
    import graft.pipeline.{ExportPipeline, Fixture, SnapshotWriter}
    val out = Files.createTempDirectory("graft-pmwalk-out")
    val man = Files.createTempDirectory("graft-pmwalk-man")
    try {
      val ks = Fixture.keyService
      val cfg = SnapshotWriter.Config(out.toString, man.toString,
        Fixture.Topic, maxBatchBytes = 50000, compression = "gz")
      val prod = new PreparedTransform(spark.newSession(),
        org.apache.spark.sql.Encoders.product[Fixture.RawCell].schema,
        b => SnapshotWriter.shaped(ExportPipeline.records(
          ExportPipeline.run(b, Fixture.Topic, ks)), cfg))
      val (foundProd, walkedProd) = findSession(prod)
      info(s"walked $walkedProd objects from the production q56 transform")
      assert(foundProd.isEmpty,
        s"a SparkSession (${foundProd.getOrElse("")}) is transitively " +
          "reachable from the production q56 prepared transform")
    } finally {
      def rm(p: Path): Unit = { // best-effort temp cleanup
        try {
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.list(p).forEach(rm(_))
          java.nio.file.Files.deleteIfExists(p)
        } catch { case _: Exception => () }
      }
      rm(out); rm(man)
    }
    // and the instance still works after the walk (setAccessible
    // can't have broken anything, but prove the template is intact)
    val r = p.lift(Seq((1L, "a"), (2L, "a")).toDF("k", "v"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    assert(r.toSeq === Seq(("A", 2L)))
  }

  test("wrapped real queries agree between miss and hit paths") {
    // Drive a slice of the production surface twice through
    // SparkEntry (memo-wrapped) and pin call-1 == call-2 row sets.
    val sample = Seq("q02_proj_filter", "q07_latest_version",
      "q09_join_inner", "q20_dedup_exact", "q30_knn_brute")
    val qs = graft.SparkEntry.queries
    for (name <- sample) {
      def run(): Array[String] =
        qs(name)(spark, sf).collect().map(_.toString).sorted
      val first = run()
      val second = run()
      assert(first === second, s"$name: memo hit changed the result")
    }
  }
}
