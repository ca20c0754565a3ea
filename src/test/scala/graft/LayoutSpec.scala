package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Layout, OpCache}
import graft.functions.TextFunctions

/** Store-lifecycle mechanics: view-backed `__vN` stores (atomic swap for
  * concurrent readers), spec-derived appends, crash healing and
  * `dropStore`. The content/plan gates for compaction itself live in
  * PlanSpec and q138. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def pid = java.lang.Long.toHexString(ProcessHandle.current().pid())

  test("versioned store: concurrent readers never fail across repeated compactions") {
    val tbl = s"layoutspec_ver_$pid"
    Dedup.writeFingerprintStore(
      Seq("a b", "c d", "e f").toDF("text"), "text", tbl, buckets = 2)
    assert(spark.table(tbl).count() == 3, "view must serve the v1 data")
    // appends resolve the view to its current backing table
    Layout.appendBucketed(spark,
      Seq("x y").toDF("text")
        .select(TextFunctions.fingerprint($"text").as("fp")), tbl)
    assert(spark.table(tbl).count() == 4, "append through the view lost rows")
    // the crux: a reader loop must never observe a missing/partial store
    // while compactions swap versions underneath it — the view repoint is
    // ONE catalog op
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
    // grace policy: current + previous versions remain, older dropped
    val left = spark.catalog.listTables()
      .filter(col("name").startsWith(s"${tbl}__v"))
      .select($"name").as[String].collect().sorted.toSeq
    assert(left == Seq(s"${tbl}__v3", s"${tbl}__v4"),
      s"expected exactly v3 (grace) and v4 (current), got $left")
    // rewrite-with-transform (retraction) also goes through the view
    Dedup.removeFromFingerprintStore(spark, tbl,
      Seq("a b").toDF("text"), "text")
    assert(spark.table(tbl).count() == 3, "retraction through the view")
    OpCache.release()
  }

  test("view-text coupling: every view the writers generate parses back " +
    "to the serving version (recoverVersioned's parser contract)") {
    // recoverVersioned derives the serving version from the view's
    // stored SQL text (so does resolveStore's heal check); this gate
    // fails if writeBucketed / commitVersioned ever phrase the view in a way servingVersion
    // cannot read — the silent-recovery-breakage the coupling note in
    // Layout.scala warns about
    val tbl = s"layoutspec_vt_$pid"
    def viewText: String = spark.sessionState.catalog
      .getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(tbl))
      .viewText.getOrElse(fail(s"$tbl is not a view"))
    Dedup.writeFingerprintStore(
      Seq("a b", "c d").toDF("text"), "text", tbl, buckets = 2)
    assert(Layout.servingVersion(viewText).contains(1),
      s"fresh store's view text unparseable: '$viewText'")
    Layout.compactBucketed(spark, tbl)
    assert(Layout.servingVersion(viewText).contains(2),
      s"post-rewrite view text unparseable: '$viewText'")
    // and the parser agrees with resolveStore on a HEALTHY store (they
    // may only diverge mid-swap, which is the heal check's whole job)
    assert(Layout.resolveStore(spark, tbl) == s"${tbl}__v2")
    assert(Layout.servingVersion("SELECT * FROM plain_table").isEmpty,
      "non-versioned view text must parse to None")
    OpCache.release()
  }

  test("versioned rewrite refuses a concurrent writer's lost update") {
    val tbl = s"layoutspec_race_$pid"
    spark.sql(s"DROP VIEW IF EXISTS $tbl")
    (1 to 4).foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${tbl}__v$v"))
    Dedup.writeFingerprintStore(
      Seq("a b", "c d").toDF("text"), "text", tbl, buckets = 2)
    // writer B commits v2 while writer A's rewrite (staged below) runs
    Layout.compactBucketed(spark, tbl)
    val content = spark.table(tbl).as[String].collect().toSet
    // writer A staged its rewrite against the STALE v1 snapshot
    val stale = s"${tbl}__graft_rw_stale"
    spark.sql(s"DROP TABLE IF EXISTS $stale")
    Seq("zz").toDF("fp").write.format("parquet").saveAsTable(stale)
    val ex = intercept[IllegalStateException] {
      // coord/seq0 are immaterial here: the generation check refuses
      // BEFORE the token CAS (the stale writer resolved __v1, now __v2)
      Layout.commitVersioned(spark, tbl, expected = 1, dest = stale,
        coord = Layout.coordPath(spark, s"${tbl}__v2"), seq0 = 0L)
    }
    assert(ex.getMessage.contains("concurrent writer"), ex.getMessage)
    // the refused commit changed NOTHING a reader can see, and dropped
    // its staging table
    assert(spark.table(tbl).as[String].collect().toSet == content,
      "refused commit mutated the store")
    assert(!spark.catalog.tableExists(stale), "staging table left behind")
    assert(!spark.catalog.tableExists(s"${tbl}__v3"),
      "refused commit advanced the generation")
    // and a non-stale rewrite through the public path still works
    Layout.compactBucketed(spark, tbl)
    assert(spark.table(tbl).as[String].collect().toSet == content,
      "post-refusal compaction lost content")
    OpCache.release()
  }

  test("an append interleaved into a rewrite is never dropped: the " +
    "rewrite is refused and the appended rows stay visible") {
    val tbl = s"layoutspec_ar_$pid"
    spark.sql(s"DROP VIEW IF EXISTS $tbl")
    (1 to 4).foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${tbl}__v$v"))
    Dedup.writeFingerprintStore(
      Seq("a b", "c d").toDF("text"), "text", tbl, buckets = 2)
    // the lost-update interleaving: the rewrite has SNAPSHOTTED the files
    // and staged its result; the append lands before the commit
    val ex = intercept[IllegalStateException] {
      Layout.rewriteBucketed(spark, tbl, () =>
        Layout.appendBucketed(spark,
          Seq("x y").toDF("text")
            .select(TextFunctions.fingerprint($"text").as("fp")), tbl)
      )(identity)
    }
    assert(ex.getMessage.contains("after this rewrite's file snapshot"),
      ex.getMessage)
    assert(spark.table(tbl).count() == 3,
      "the interleaved append's rows were dropped")
    assert(!spark.catalog.tableExists(s"${tbl}__v2"),
      "refused rewrite advanced the generation")
    // the refused rewrite left no tombstone: a retry sees the appended
    // rows (fresh snapshot) and swaps cleanly
    Layout.compactBucketed(spark, tbl)
    assert(spark.table(tbl).count() == 3,
      "post-refusal compaction lost the appended rows")
    // inverse direction: an append that starts against a version a
    // rewrite CLOSED (token committed, repoint pending or done) refuses
    // loudly instead of writing into the superseded table — plant the
    // tombstone the way a mid-swap rewrite leaves it
    val closed = Layout.coordPath(spark, Layout.resolveStore(spark, tbl))
    assert(Layout.commitToken(spark, closed, 1L, "r"))
    val ex2 = intercept[IllegalStateException] {
      Layout.appendBucketed(spark,
        Seq("p q").toDF("text")
          .select(TextFunctions.fingerprint($"text").as("fp")), tbl)
    }
    assert(ex2.getMessage.contains("rewrite"), ex2.getMessage)
    assert(spark.table(tbl).count() == 3,
      "append into a closed version landed anyway")
    OpCache.release()
  }

  test("a CRASHED append (rows committed, intent unfinalized) blocks " +
    "rewrites until the horizon — never a silent row loss; failed and " +
    "finalized appends don't block") {
    val tbl = s"layoutspec_ci_$pid"
    spark.sql(s"DROP VIEW IF EXISTS $tbl")
    (1 to 5).foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${tbl}__v$v"))
    Dedup.writeFingerprintStore(
      Seq("a b", "c d").toDF("text"), "text", tbl, buckets = 2)
    def append(t: String, afterData: () => Unit = () => ()): Unit =
      Layout.appendBucketed(spark,
        Seq(t).toDF("text")
          .select(TextFunctions.fingerprint($"text").as("fp")), tbl,
        afterData)
    // the r15 residual window, driven deterministically: the append's
    // data COMMITS, the process dies before its finalization token
    val boom = intercept[RuntimeException] {
      append("x y", () => throw new RuntimeException("crash after data"))
    }
    assert(boom.getMessage == "crash after data")
    assert(spark.table(tbl).count() == 3,
      "the crashed append's committed rows should be visible")
    // a rewrite CANNOT prove its listing includes those rows — refused
    val ex = intercept[IllegalStateException] {
      Layout.compactBucketed(spark, tbl)
    }
    assert(ex.getMessage.contains("unfinalized"), ex.getMessage)
    assert(!spark.catalog.tableExists(s"${tbl}__v2"),
      "refused rewrite advanced the generation")
    // appends are NOT paused — only rewrites wait on the horizon
    append("e f")
    assert(spark.table(tbl).count() == 4)
    // the operator escape for a KNOWN-dead writer: horizon 0 ignores the
    // stale intent; the crashed append's rows survive the swap (they
    // are in any fresh listing — that is exactly why stale is safe)
    Layout.rewriteBucketed(spark, tbl, inFlightHorizonMs = 0L)(identity)
    assert(spark.table(tbl).count() == 4,
      "compaction lost the crashed append's rows")
    // healthy lifecycle on the new version: finalized intents never
    // block (append then compact cleanly)
    append("g h")
    Layout.compactBucketed(spark, tbl)
    assert(spark.table(tbl).count() == 5,
      "a finalized append blocked or was lost by compaction")
    // a planted live intent blocks the default-horizon rewrite until its
    // token AGES past the horizon (the crashed-writer clock, not a flag)
    val coord = Layout.coordPath(spark, Layout.resolveStore(spark, tbl))
    assert(Layout.commitToken(spark, coord, 99L, "i"))
    intercept[IllegalStateException] { Layout.compactBucketed(spark, tbl) }
    val tok = new java.io.File(
      new java.net.URI(coord.toString).getPath, "_t000000099")
    assert(tok.exists() &&
      tok.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000))
    Layout.compactBucketed(spark, tbl)
    assert(spark.table(tbl).count() == 5,
      "compaction past a stale intent lost rows")
    // a FAILED (not crashed) append self-finalizes its intent: one bad
    // batch must not pause rewrites for the horizon
    intercept[Exception] {
      Layout.appendBucketed(spark,
        Seq(1).toDF("wrong_schema_col"), tbl)
    }
    Layout.compactBucketed(spark, tbl) // no refusal
    assert(spark.table(tbl).count() == 5)
    OpCache.release()
  }

  test("append commit tokens: sequential appends chain, rewrites see them") {
    val tbl = s"layoutspec_tok_$pid"
    spark.sql(s"DROP VIEW IF EXISTS $tbl")
    (1 to 4).foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${tbl}__v$v"))
    Dedup.writeFingerprintStore(
      Seq("a b").toDF("text"), "text", tbl, buckets = 2)
    def append(t: String): Unit = Layout.appendBucketed(spark,
      Seq(t).toDF("text")
        .select(TextFunctions.fingerprint($"text").as("fp")), tbl)
    append("c d")
    append("e f")
    // both appends committed their token PAIRS (intent before data,
    // finalization after) in the current version's coord dir
    val coord = Layout.coordPath(spark, Layout.resolveStore(spark, tbl))
    val fs = coord.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tokens = fs.listStatus(coord).map(_.getPath.getName).sorted.toSeq
    assert(tokens == Seq("_t000000001", "_t000000002",
      "_t000000003", "_t000000004"), tokens.toString)
    // a clean rewrite includes them and the NEW version starts a fresh
    // token chain (the old coord dies with the old version's directory)
    Layout.compactBucketed(spark, tbl)
    assert(spark.table(tbl).count() == 3, "compaction lost appended rows")
    val coord2 = Layout.coordPath(spark, Layout.resolveStore(spark, tbl))
    assert(coord2 != coord)
    assert(!fs.exists(coord2) ||
      fs.listStatus(coord2).isEmpty, "new version inherited stale tokens")
    // and appends keep working against the new version
    append("g h")
    assert(spark.table(tbl).count() == 4)
    // append-vs-append: competing appends' tokens (planted the way
    // racing appendBucketed calls leave them) are benign — the next
    // append chains past them to the next free sequence, no refusal
    // (only an `r` token refuses; appends never conflict on data)
    val c3 = Layout.coordPath(spark, Layout.resolveStore(spark, tbl))
    assert(Layout.commitToken(spark, c3, 3L, "a"))
    assert(Layout.commitToken(spark, c3, 4L, "a"))
    append("i j")
    assert(spark.table(tbl).count() == 5,
      "append lost to a benign append-token conflict")
    val after = fs.listStatus(c3).map(_.getPath.getName).sorted.toSeq
    assert(after.contains("_t000000006"),
      s"append did not chain past the planted tokens: $after")
    OpCache.release()
  }

  test("recoverVersioned finishes a crashed rewrite commit: roll back " +
    "before the rename, complete after it") {
    val tbl = s"layoutspec_rec_$pid"
    Dedup.writeFingerprintStore(
      Seq("a b", "c d", "e f").toDF("text"), "text", tbl, buckets = 2)
    // healthy store: recovery is a no-op (safe on a schedule)
    assert(!Layout.recoverVersioned(spark, tbl))
    // CASE 1 — writer died between its token and the rename: the version
    // is closed (appends refuse) and an orphan staging table lingers
    val coord1 = Layout.coordPath(spark, Layout.resolveStore(spark, tbl))
    assert(Layout.commitToken(spark, coord1, 1L, "r"))
    Seq("zz").toDF("fp").write.format("parquet")
      .saveAsTable(s"${tbl}__graft_rw_dead")
    def append(t: String): Unit = Layout.appendBucketed(spark,
      Seq(t).toDF("text")
        .select(TextFunctions.fingerprint($"text").as("fp")), tbl)
    intercept[IllegalStateException] { append("x y") }
    // a FRESH tombstone could be a merely-slow LIVE writer between its
    // token and its rename — the default horizon refuses to roll back
    assert(!Layout.recoverVersioned(spark, tbl),
      "rollback destroyed a possibly-live writer's commit")
    assert(Layout.recoverVersioned(spark, tbl, rollbackHorizonMs = 0L),
      "rollback not detected")
    append("x y") // the version accepts commits again
    assert(spark.table(tbl).count() == 4)
    assert(!spark.catalog.tableExists(s"${tbl}__graft_rw_dead"),
      "orphan staging table survived rollback")
    // CASE 2 — writer died between the rename and the repoint: __v2
    // exists and is complete, the view still serves __v1, and the dead
    // writer's `r` token sits in __v1's coord (where it committed it)
    spark.table(tbl).unionByName(Seq("recovered-row").toDF("fp"))
      .repartition(2, $"fp").write.bucketBy(2, "fp").sortBy("fp")
      .format("parquet").saveAsTable(s"${tbl}__v2")
    val coord2 = Layout.coordPath(spark, s"${tbl}__v1")
    // CASE 1's rollback deleted _t1 and the append re-took seqs 1+2
    // (intent + finalization): the dead rewrite's token goes at the
    // next free sequence, 3
    assert(Layout.commitToken(spark, coord2, 3L, "r"))
    // a reader between the crash and the next writer still sees __v1
    assert(spark.table(tbl).count() == 4,
      "pre-heal readers must still serve the old version")
    // the next append's resolve HEALS the store: it finishes the swap
    // (repoints the view to __v2), then lands its row there
    append("p q")
    assert(spark.table(tbl).count() == 6, // 5 staged + 1 healing append
      "healed swap must serve the staged store plus the append")
    assert(Layout.servingVersion(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(tbl))
      .viewText.get).contains(2), "the append did not repoint the view")
    // healthy again: nothing left to recover, appends keep working
    assert(!Layout.recoverVersioned(spark, tbl))
    append("r s")
    assert(spark.table(tbl).count() == 7)
    OpCache.release()
  }

  test("appendBucketed derives the spec from the table; non-bucketed refused") {
    val tbl = s"layoutspec_app_$pid"
    Layout.writeBucketed(Seq((1L, "a")).toDF("id", "v"), tbl, Seq("id"), 3)
    Layout.appendBucketed(spark, Seq((2L, "b")).toDF("id", "v"), tbl)
    assert(spark.table(tbl).count() == 2)
    val spec = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(
        Layout.resolveStore(spark, tbl))).bucketSpec
    assert(spec.exists(_.numBuckets == 3), s"append changed the spec: $spec")
    // a plain table is not a graft store: refused, not appended to
    val plain = s"layoutspec_plainapp_$pid"
    Seq((1L, "a")).toDF("id", "v").write.saveAsTable(plain)
    val ex = intercept[IllegalArgumentException] {
      Layout.appendBucketed(spark, Seq((2L, "b")).toDF("id", "v"), plain)
    }
    assert(ex.getMessage.contains("not a graft store"), ex.getMessage)
    // a store whose version is not bucketed keeps the spec refusal
    val unbucketed = s"layoutspec_nobkt_$pid"
    Seq((1L, "a")).toDF("id", "v").write.format("parquet")
      .saveAsTable(s"${unbucketed}__v1")
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
      .bucketBy(2, "id").sortBy("id").format("orc").saveAsTable(s"${tbl}__v1")
    spark.sql(s"CREATE VIEW $tbl AS SELECT * FROM ${tbl}__v1")
    val e = intercept[IllegalArgumentException] {
      Layout.compactBucketed(spark, tbl)
    }
    assert(e.getMessage.contains("parquet"), e.getMessage)
    Layout.dropStore(spark, tbl)
  }

  private def names(prefix: String): Seq[String] =
    spark.catalog.listTables().select($"name").as[String].collect()
      .filter(_.startsWith(prefix)).sorted.toSeq

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
    assert(names(tbl) == Seq(tbl, s"${tbl}__v1"))
    // grow the store past v1, then write the name again: the old store
    // goes whole and the new one starts over at v1
    Layout.compactBucketed(spark, tbl)
    assert(names(tbl) == Seq(tbl, s"${tbl}__v1", s"${tbl}__v2"))
    Layout.writeBucketed(Seq((9L, "z")).toDF("id", "v"), tbl, Seq("id"), 2)
    assert(names(tbl) == Seq(tbl, s"${tbl}__v1"))
    assert(spark.table(tbl).as[(Long, String)].collect().toSeq ==
      Seq((9L, "z")), "the rewritten name still serves the old store")
    Layout.dropStore(spark, tbl)
  }

  test("dropStore leaves no view, version, staging table or warehouse dir") {
    val tbl = s"layoutspec_drop_$pid"
    Layout.writeBucketed(Seq((1L, "a")).toDF("id", "v"), tbl, Seq("id"), 2)
    Layout.compactBucketed(spark, tbl)
    // a dead rewrite's staging table
    Seq((2L, "b")).toDF("id", "v").write.format("parquet")
      .saveAsTable(s"${tbl}__graft_rw_dead")
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    def dirs = Option(wh.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith(tbl)).sorted.toSeq
    assert(dirs.size == 3, s"expected __v1, __v2 and staging dirs: $dirs")
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
