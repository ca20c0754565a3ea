package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Layout, OpCache}
import graft.functions.TextFunctions

/** Store-lifecycle mechanics: segment/version/view stores (atomic publish
  * for concurrent readers), the exclusive version create as the one
  * commit point, lost races, fault injection after each commit step,
  * garbage collection and `dropStore`. The content/plan gates for
  * compaction itself live in PlanSpec and q138. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def pid = java.lang.Long.toHexString(ProcessHandle.current().pid())

  private def fps(texts: String*) =
    texts.toDF("text").select(TextFunctions.fingerprint($"text").as("fp"))

  private def names(prefix: String): Seq[String] =
    spark.catalog.listTables().select($"name").as[String].collect()
      .filter(_.startsWith(prefix)).sorted.toSeq

  private def versionsOf(tbl: String): Seq[Int] =
    names(s"${tbl}__v").map(_.stripPrefix(s"${tbl}__v").toInt).sorted

  private def segmentTables(tbl: String): Set[String] =
    names(s"${tbl}__s").toSet

  private def named(tbl: String, v: Int): Set[String] =
    Layout.segmentsOf(spark, tbl, s"${tbl}__v$v").toSet

  private def viewText(tbl: String): String = spark.sessionState.catalog
    .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(tbl))
    .viewText.getOrElse(fail(s"$tbl is not a view"))

  test("versioned store: concurrent readers never fail across repeated compactions") {
    val tbl = s"layoutspec_ver_$pid"
    Dedup.writeFingerprintStore(
      Seq("a b", "c d", "e f").toDF("text"), "text", tbl, buckets = 2)
    assert(spark.table(tbl).count() == 3, "view must serve the v1 data")
    Layout.appendBucketed(spark, fps("x y"), tbl)
    assert(spark.table(tbl).count() == 4, "append through the view lost rows")
    // the crux: a reader loop must never observe a missing/partial store
    // while compactions swap versions underneath it — the publish is ONE
    // catalog op
    @volatile var stop = false
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val reader = new Thread(() => {
      try while (!stop) {
        val n = spark.table(tbl).count()
        assert(n == 4L, s"reader saw $n rows mid-swap")
        reads.incrementAndGet()
      } catch { case t: Throwable => failure.compareAndSet(null, t) }
    })
    reader.start()
    try (1 to 3).foreach(_ => Layout.compactBucketed(spark, tbl))
    finally { stop = true; reader.join(60000) }
    assert(failure.get() == null,
      s"concurrent reader failed during compaction: ${failure.get()}")
    assert(reads.get() > 0, "reader loop never completed a read")
    // v1 write, v2 append, v3-v5 compactions: the current and previous
    // versions remain, with exactly the segments they name
    assert(versionsOf(tbl) == Seq(4, 5), s"versions left: ${versionsOf(tbl)}")
    assert(segmentTables(tbl) == named(tbl, 4) ++ named(tbl, 5))
    // rewrite-with-transform (retraction) also goes through the view
    Dedup.removeFromFingerprintStore(spark, tbl,
      Seq("a b").toDF("text"), "text")
    assert(spark.table(tbl).count() == 3, "retraction through the view")
    Layout.dropStore(spark, tbl)
    OpCache.release()
  }

  test("view-text coupling: every view the writers generate parses back " +
    "to its version and segments") {
    // the serving version and a version's segments live only in the
    // views' SQL text; this gate fails if the writers ever phrase a view
    // in a way servingVersion / segmentsOf cannot read
    val tbl = s"layoutspec_vt_$pid"
    Dedup.writeFingerprintStore(
      Seq("a b", "c d").toDF("text"), "text", tbl, buckets = 2)
    assert(Layout.servingVersion(viewText(tbl)).contains(1),
      s"fresh store's view text unparseable: '${viewText(tbl)}'")
    assert(named(tbl, 1) == segmentTables(tbl) && segmentTables(tbl).size == 1)
    Layout.appendBucketed(spark, fps("e f"), tbl)
    assert(Layout.servingVersion(viewText(tbl)).contains(2))
    assert(named(tbl, 2) == segmentTables(tbl) && segmentTables(tbl).size == 2,
      s"an append's version names the old segment plus its own: " +
        viewText(s"${tbl}__v2"))
    Layout.compactBucketed(spark, tbl)
    assert(Layout.servingVersion(viewText(tbl)).contains(3),
      s"post-rewrite view text unparseable: '${viewText(tbl)}'")
    assert(named(tbl, 3).size == 1 && (named(tbl, 3) & named(tbl, 2)).isEmpty)
    // and the parser agrees with resolveStore on a healthy store
    assert(Layout.resolveStore(spark, tbl) == s"${tbl}__v3")
    assert(Layout.servingVersion("SELECT * FROM plain_table").isEmpty,
      "non-versioned view text must parse to None")
    Layout.dropStore(spark, tbl)
    OpCache.release()
  }

  test("versioned rewrite refuses a concurrent writer's lost update") {
    val tbl = s"layoutspec_race_$pid"
    Dedup.writeFingerprintStore(
      Seq("a b", "c d").toDF("text"), "text", tbl, buckets = 2)
    val content = spark.table(tbl).as[String].collect().toSet
    // writer A stages a rewrite of v1 that drops "a b"; writer B commits
    // v2 (a compaction) before A's commit
    val ex = intercept[IllegalStateException] {
      Layout.rewriteBucketed(spark, tbl, step =>
        if (step == "segment") Layout.compactBucketed(spark, tbl)
      )(_.filter(col("fp") =!= TextFunctions.fingerprint(lit("a b"))))
    }
    assert(ex.getMessage.contains("another writer committed"), ex.getMessage)
    // the refused commit changed NOTHING a reader can see, and dropped
    // its segment
    assert(spark.table(tbl).as[String].collect().toSet == content,
      "refused commit mutated the store")
    assert(versionsOf(tbl) == Seq(1, 2), "refused commit advanced the generation")
    assert(segmentTables(tbl) == named(tbl, 1) ++ named(tbl, 2),
      "refused rewrite left its segment behind")
    // and a non-stale rewrite through the public path still works
    Layout.compactBucketed(spark, tbl)
    assert(spark.table(tbl).as[String].collect().toSet == content,
      "post-refusal compaction lost content")
    Layout.dropStore(spark, tbl)
    OpCache.release()
  }

  test("an append interleaved into a rewrite is never dropped: the " +
    "rewrite is refused and the appended rows stay visible") {
    val tbl = s"layoutspec_ar_$pid"
    Dedup.writeFingerprintStore(
      Seq("a b", "c d").toDF("text"), "text", tbl, buckets = 2)
    // the append commits while the rewrite's segment is staged: the
    // rewrite's snapshot misses it, so the rewrite is the one refused
    val ex = intercept[IllegalStateException] {
      Layout.rewriteBucketed(spark, tbl, step =>
        if (step == "segment") Layout.appendBucketed(spark, fps("x y"), tbl)
      )(identity)
    }
    assert(ex.getMessage.contains("another writer committed"), ex.getMessage)
    assert(spark.table(tbl).count() == 3,
      "the interleaved append's rows were dropped")
    // the other order: a rewrite commits while the append's segment is
    // staged — the append loses the create, re-reads the rewrite's
    // version and commits on top of it; no refusal, no lost row
    Layout.appendBucketed(spark, fps("p q"), tbl, step =>
      if (step == "segment") Dedup.removeFromFingerprintStore(spark, tbl,
        Seq("a b").toDF("text"), "text"))
    assert(spark.table(tbl).as[String].collect().toSet ==
      fps("c d", "x y", "p q").as[String].collect().toSet,
      "the append racing a rewrite must be served on top of it")
    assert(Layout.servingVersion(viewText(tbl)).contains(4))
    Layout.dropStore(spark, tbl)
    OpCache.release()
  }

  test("two writers racing to create the same version: exactly one wins, " +
    "and racing appends both land") {
    val tbl = s"layoutspec_cas_$pid"
    Layout.writeBucketed(Seq((1L, "a")).toDF("id", "v"), tbl, Seq("id"), 2)
    val segs = named(tbl, 1).toSeq
    (2 to 6).foreach { n =>
      val start = new java.util.concurrent.CyclicBarrier(2)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val ts = (1 to 2).map(_ => new Thread(() =>
        try {
          start.await()
          if (Layout.createVersion(spark, tbl, n, segs)) wins.incrementAndGet()
        } catch { case t: Throwable => errors.add(t) }))
      ts.foreach(_.start()); ts.foreach(_.join(60000))
      assert(errors.isEmpty, s"a racing create failed: ${errors.peek()}")
      assert(wins.get() == 1, s"__v$n: ${wins.get()} writers won the create")
    }
    // the store heals to the newest version on the next resolve
    assert(Layout.resolveStore(spark, tbl) == s"${tbl}__v6")
    assert(Layout.servingVersion(viewText(tbl)).contains(6))
    // two appends racing end to end: the loser retries, neither refuses
    val start = new java.util.concurrent.CyclicBarrier(2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = Seq(2L, 3L).map(id => new Thread(() =>
      try {
        start.await()
        Layout.appendBucketed(spark, Seq((id, "b")).toDF("id", "v"), tbl)
      } catch { case t: Throwable => errors.add(t) }))
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    assert(errors.isEmpty, s"a racing append failed: ${errors.peek()}")
    assert(spark.table(tbl).select($"id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L), "a racing append lost its rows")
    assert(versionsOf(tbl).last == 8)
    Layout.dropStore(spark, tbl)
  }

  test("fault injection: a writer dying after any commit step leaves " +
    "readers on v or v+1, loses no committed row, and the next writers " +
    "succeed") {
    case object Crash extends RuntimeException("injected crash")
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    for (step <- Seq("segment", "version", "publish");
         writer <- Seq("append", "rewrite")) {
      val tbl = s"layoutspec_fault_${writer}_${step}_$pid"
      def dirs = Option(wh.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith(tbl)).toSeq
      Dedup.writeFingerprintStore(
        Seq("a b", "c d").toDF("text"), "text", tbl, buckets = 2)
      Layout.appendBucketed(spark, fps("e f"), tbl) // v = 2, 3 rows
      val v = fps("a b", "c d", "e f").as[String].collect().toSet
      // v+1: the append adds "x y", the rewrite retracts "a b"
      val v1 = if (writer == "append") v ++ fps("x y").as[String].collect()
        else v -- fps("a b").as[String].collect()
      val crash: String => Unit = s => if (s == step) throw Crash
      intercept[Crash.type] {
        if (writer == "append") Layout.appendBucketed(spark, fps("x y"), tbl, crash)
        else Layout.rewriteBucketed(spark, tbl, crash)(
          _.filter(col("fp") =!= TextFunctions.fingerprint(lit("a b"))))
      }
      def served = spark.table(tbl).as[String].collect().toSet
      val ctx = s"$writer crashed after $step"
      // readers see v until the publish, v+1 from it on
      assert(served == (if (step == "publish") v1 else v), ctx)
      // the next append (healing a committed-but-unpublished version
      // first) and the next rewrite both succeed
      Layout.appendBucketed(spark, fps("g h"), tbl)
      Layout.compactBucketed(spark, tbl)
      val committed = (if (step == "segment") v else v1) ++
        fps("g h").as[String].collect()
      assert(served == committed, s"$ctx: committed rows lost")
      // GC keeps the current and previous versions' segments; only the
      // crashed writer's never-named segment is outside them
      val vs = versionsOf(tbl)
      assert(vs.size == 2, s"$ctx: versions left $vs")
      val live = named(tbl, vs(0)) ++ named(tbl, vs(1))
      assert((segmentTables(tbl) -- live).size == (if (step == "segment") 1 else 0),
        s"$ctx: segments ${segmentTables(tbl)}, named $live")
      assert(live.subsetOf(segmentTables(tbl)), ctx)
      // dropStore removes everything, the orphan included
      Layout.dropStore(spark, tbl)
      assert(names(tbl).isEmpty && dirs.isEmpty,
        s"$ctx: dropStore left ${names(tbl)} / $dirs")
    }
    OpCache.release()
  }

  test("appendBucketed derives the spec from the table; non-bucketed refused") {
    val tbl = s"layoutspec_app_$pid"
    Layout.writeBucketed(Seq((1L, "a")).toDF("id", "v"), tbl, Seq("id"), 3)
    // columns are matched by name and cast to the store's types (an int
    // key would hash to other buckets than the store's long keys)
    Layout.appendBucketed(spark, Seq(("b", 2)).toDF("v", "id"), tbl)
    assert(spark.table(tbl).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    val specs = segmentTables(tbl).toSeq.map(s => spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(s))
      .bucketSpec)
    assert(specs.size == 2 && specs.forall(_.exists(_.numBuckets == 3)),
      s"append changed the spec: $specs")
    // a plain table is not a graft store: refused, not appended to
    val plain = s"layoutspec_plainapp_$pid"
    Seq((1L, "a")).toDF("id", "v").write.saveAsTable(plain)
    val ex = intercept[IllegalArgumentException] {
      Layout.appendBucketed(spark, Seq((2L, "b")).toDF("id", "v"), plain)
    }
    assert(ex.getMessage.contains("not a graft store"), ex.getMessage)
    // a store whose segment is not bucketed keeps the spec refusal
    val unbucketed = s"layoutspec_nobkt_$pid"
    Seq((1L, "a")).toDF("id", "v").write.format("parquet")
      .saveAsTable(s"${unbucketed}__s0000000a")
    spark.sql(s"CREATE VIEW ${unbucketed}__v1 AS " +
      s"SELECT id, v FROM ${unbucketed}__s0000000a")
    spark.sql(s"CREATE VIEW $unbucketed AS SELECT * FROM ${unbucketed}__v1")
    val ex2 = intercept[IllegalArgumentException] {
      Layout.appendBucketed(spark, Seq((2L, "b")).toDF("id", "v"), unbucketed)
    }
    assert(ex2.getMessage.contains("no bucket spec"), ex2.getMessage)
    Seq(tbl, plain, unbucketed).foreach(Layout.dropStore(spark, _))
  }

  test("rewriteBucketed refuses non-parquet stores loudly") {
    val tbl = s"layoutspec_orc_$pid"
    Seq((1L, "a")).toDF("id", "v").write
      .bucketBy(2, "id").sortBy("id").format("orc")
      .saveAsTable(s"${tbl}__s0000000a")
    spark.sql(s"CREATE VIEW ${tbl}__v1 AS SELECT id, v FROM ${tbl}__s0000000a")
    spark.sql(s"CREATE VIEW $tbl AS SELECT * FROM ${tbl}__v1")
    val e = intercept[IllegalArgumentException] {
      Layout.compactBucketed(spark, tbl)
    }
    assert(e.getMessage.contains("parquet"), e.getMessage)
    Layout.dropStore(spark, tbl)
  }

  test("writeBucketed: the first write is a view over __v1, and writing " +
    "the name again replaces the store") {
    val tbl = s"layoutspec_first_$pid"
    Layout.writeBucketed(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl,
      Seq("id"), 2)
    val m = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(tbl))
    assert(m.tableType == org.apache.spark.sql.catalyst.catalog
      .CatalogTableType.VIEW, s"$tbl is a ${m.tableType}, not a view")
    assert(m.viewText.flatMap(Layout.servingVersion).contains(1))
    assert(Layout.resolveStore(spark, tbl) == s"${tbl}__v1")
    assert(names(tbl) == (Seq(tbl, s"${tbl}__v1") ++ segmentTables(tbl)).sorted)
    // grow the store past v1, then write the name again: the old store
    // goes whole and the new one starts over at v1
    Layout.compactBucketed(spark, tbl)
    assert(versionsOf(tbl) == Seq(1, 2) && segmentTables(tbl).size == 2)
    Layout.writeBucketed(Seq((9L, "z")).toDF("id", "v"), tbl, Seq("id"), 2)
    assert(versionsOf(tbl) == Seq(1) && segmentTables(tbl).size == 1)
    assert(spark.table(tbl).as[(Long, String)].collect().toSeq ==
      Seq((9L, "z")), "the rewritten name still serves the old store")
    Layout.dropStore(spark, tbl)
  }

  test("dropStore leaves no view, version, staging table or warehouse dir") {
    val tbl = s"layoutspec_drop_$pid"
    Layout.writeBucketed(Seq((1L, "a")).toDF("id", "v"), tbl, Seq("id"), 2)
    Layout.compactBucketed(spark, tbl)
    // a crashed writer's segment that no version names
    intercept[IllegalStateException] {
      Layout.appendBucketed(spark, Seq((2L, "b")).toDF("id", "v"), tbl,
        step => if (step == "segment") throw new IllegalStateException("crash"))
    }
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    def dirs = Option(wh.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith(tbl)).sorted.toSeq
    assert(dirs.size == 3, s"expected 2 named and 1 orphan segment dirs: $dirs")
    Layout.dropStore(spark, tbl)
    assert(names(tbl).isEmpty, s"dropStore left ${names(tbl)}")
    assert(dirs.isEmpty, s"dropStore left warehouse dirs $dirs")
    // a plain table of the name goes too; a missing name is a no-op
    Seq((1L, "a")).toDF("id", "v").write.saveAsTable(tbl)
    Layout.dropStore(spark, tbl)
    Layout.dropStore(spark, tbl)
    assert(names(tbl).isEmpty && dirs.isEmpty)
  }
}
