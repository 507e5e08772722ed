package graft

import graft.operators.Txn
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

class TxnSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_txn").toString

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def table(root: String, v: Option[Int] = None) =
    Txn.read(spark, root, v).select("k", "part", "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("overwrite → append → replace-partitions: each snapshot exact, time travel intact") {
    val root = freshRoot()
    val v1df = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "part", "n")
    assert(Txn.commitOverwrite(spark, root, v1df, Seq("part")) == 1)
    assert(table(root) == Set((1L, "a", 10L), (2L, "b", 20L)))

    val v2df = Seq((3L, "a", 30L)).toDF("k", "part", "n")
    assert(Txn.commitAppend(spark, root, v2df, Seq("part")) == 2)
    assert(table(root) ==
      Set((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)))

    // replace ONLY partition a; b's files must survive untouched
    val bFiles = Txn.snapshotFiles(spark, root, 2).filter(_.contains("part=b"))
    val v3df = Seq((9L, "a", 90L)).toDF("k", "part", "n")
    assert(Txn.commitReplacePartitions(spark, root, v3df, "part") == 3)
    assert(table(root) == Set((9L, "a", 90L), (2L, "b", 20L)))
    assert(Txn.snapshotFiles(spark, root, 3).filter(_.contains("part=b"))
      == bFiles, "untouched partition's files must carry over BY REFERENCE")

    // time travel: every previous snapshot still reads exactly
    assert(table(root, Some(1)) == Set((1L, "a", 10L), (2L, "b", 20L)))
    assert(table(root, Some(2)) ==
      Set((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)))
  }

  test("mid-publish reader sees only the old snapshot; vacuum reclaims orphans") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      Seq((1L, "a", 10L)).toDF("k", "part", "n"), Seq("part"))
    val before = table(root)
    // simulate a committer that crashed AFTER staging data files and a
    // temp manifest but BEFORE the rename: neither may be visible
    val f = fs(root)
    Seq((666L, "a", 666L)).toDF("k", "part", "n")
      .write.partitionBy("part").parquet(s"$root/data/b00002")
    val tmp = new Path(s"$root/_manifests/.tmp-crashed")
    val os = f.create(tmp, false)
    os.write("b00002/part=a/garbage.parquet\n".getBytes("UTF-8")); os.close()
    assert(Txn.currentVersion(spark, root) == 1, "temp manifest leaked into versions")
    assert(table(root) == before, "reader saw unpublished data")
    // DEFAULT-retention vacuum spares the fresh orphans: a concurrent
    // committer's just-staged batch can never be reclaimed mid-publish
    assert(Txn.vacuum(spark, root) == 0)
    assert(f.exists(tmp))
    // zero-retention vacuum (caller asserts no commit in flight)
    // reclaims orphan data files + temp manifest; snapshot intact
    val removed = Txn.vacuum(spark, root, olderThanMs = 0L)
    assert(removed >= 1, "vacuum found no orphans")
    assert(!f.exists(tmp))
    assert(table(root) == before)
    assert(f.listFiles(new Path(s"$root/data"), true) != null)
  }

  test("optimistic concurrency: a taken version forces restage onto the new head") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      Seq((1L, "a", 10L)).toDF("k", "part", "n"), Seq("part"))
    // a racing committer wins v2 out from under us: fabricate its
    // manifest as a copy of v1 (a valid committed state)
    val f = fs(root)
    val v1Files = Txn.snapshotFiles(spark, root, 1)
    val os = f.create(new Path(s"$root/_manifests/v00002.manifest"), false)
    os.write((v1Files.mkString("\n") + "\n").getBytes("UTF-8")); os.close()
    // our append must lose v2, re-read the head, and land as v3 with
    // the racer's snapshot as its base
    val v = Txn.commitAppend(spark, root,
      Seq((2L, "b", 20L)).toDF("k", "part", "n"), Seq("part"))
    assert(v == 3)
    assert(table(root) == Set((1L, "a", 10L), (2L, "b", 20L)))
  }

  test("idempotent tagged append: replay short-circuits, distinct tags accumulate") {
    val root = freshRoot()
    val b0 = Seq((1L, "a", 10L)).toDF("k", "part", "n")
    val b1 = Seq((2L, "a", 20L)).toDF("k", "part", "n")
    assert(Txn.commitAppendIdempotent(spark, root, b0, "sb0") == Some(1))
    assert(Txn.commitAppendIdempotent(spark, root, b1, "sb1") == Some(2))
    // replay of sb0 with a DIFFERENT payload: must not stage, not
    // commit, not move the head — the tag is the identity
    assert(Txn.commitAppendIdempotent(spark, root,
      Seq((666L, "a", 666L)).toDF("k", "part", "n"), "sb0").isEmpty)
    assert(Txn.currentVersion(spark, root) == 2)
    assert(table(root) == Set((1L, "a", 10L), (2L, "a", 20L)))
    // and no orphan files appeared from the replay attempt
    assert(Txn.vacuum(spark, root, olderThanMs = 0L) == 0)
    // the tag set SURVIVES a full rewrite (compaction): the marker
    // lives in the manifest, not in file-path prefixes — a replayed
    // micro-batch after commitOverwrite must still short-circuit
    Txn.commitOverwrite(spark, root,
      Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("k", "part", "n"))
    assert(Txn.committedTags(spark, root, 3).toSet == Set("sb0", "sb1"))
    assert(Txn.commitAppendIdempotent(spark, root,
      Seq((777L, "a", 777L)).toDF("k", "part", "n"), "sb1").isEmpty)
    assert(table(root) == Set((1L, "a", 10L), (2L, "a", 20L)))
  }

  test("empty commit stays readable through the manifest schema line") {
    val root = freshRoot()
    val none = Seq((1L, "a", 10L)).toDF("k", "part", "n").where("k < 0")
    assert(Txn.commitOverwrite(spark, root, none, Seq("part")) == 1)
    val got = Txn.read(spark, root)
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("k", "n", "part") ||
      got.columns.toSeq == Seq("k", "part", "n"))
    // skip-scan over the empty snapshot is also a typed empty frame
    assert(Txn.readWhere(spark, root, "k", 0d, 10d).count() == 0)
  }

  test("replace-partitions matches the WRITER's path encoding (escaped values, nulls)") {
    val root = freshRoot()
    // 'a:b' writes as part=a%3Ab — a raw-value comparison would keep
    // the stale files and duplicate the partition (r10 review finding)
    val v1 = Seq((1L, "a:b", 10L), (2L, "plain", 20L))
      .toDF("k", "part", "n")
    Txn.commitOverwrite(spark, root, v1, Seq("part"))
    assert(Txn.snapshotFiles(spark, root, 1).exists(_.contains("part=a%3Ab")))
    val patch = Seq((9L, "a:b", 90L)).toDF("k", "part", "n")
    Txn.commitReplacePartitions(spark, root, patch, "part")
    assert(table(root) == Set((9L, "a:b", 90L), (2L, "plain", 20L)),
      "escaped partition not replaced — stale rows survived")
  }

  test("manifest stats + skip-scan: pruned file set, exact results, stats survive append") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    val df = spark.range(1000).select(col("id").as("k"),
      (col("id") % 7).as("v"))
    Txn.commitOverwrite(spark, root, df.repartitionByRange(10, col("k")),
      statsCol = Some("k"))
    val all = Txn.snapshotFiles(spark, root, 1)
    assert(all.size == 10)
    // every entry carries stats after a statsCol commit
    assert(Txn.snapshotEntries(spark, root, 1)
      .forall(_.statsFor("k").isDefined))
    // a 100-wide range over range-partitioned files touches ~1-2 of 10
    val pruned = Txn.filesForRange(spark, root, 250d, 349d)
    assert(pruned.size < all.size,
      s"no pruning: ${pruned.size} of ${all.size}")
    // and the skip-scan result is EXACT
    val got = Txn.readWhere(spark, root, "k", 250d, 349d)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == (250L to 349L).toSet)
    // append WITHOUT stats: old entries keep theirs, new file has none,
    // and skip-scan still includes the stats-less file (safe)
    Txn.commitAppend(spark, root,
      spark.range(2000, 2010).select(col("id").as("k"), (col("id") % 7).as("v"))
        .coalesce(1))
    val e2 = Txn.snapshotEntries(spark, root, 2)
    assert(e2.count(_.statsFor("k").isDefined) == 10 &&
      e2.count(_.stats.isEmpty) == 1)
    val got2 = Txn.readWhere(spark, root, "k", 2000d, 2100d)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got2 == (2000L to 2009L).toSet)
    // an empty intersection returns an empty, correctly-typed frame
    assert(Txn.readWhere(spark, root, "k", 50000d, 60000d).count() == 0)
  }

  test("compact: file fold, history intact, tags carried, stats re-recorded") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    val df = spark.range(100).select(col("id").as("k"), (col("id") % 3).as("v"))
    Txn.commitOverwrite(spark, root,
      df.where("k < 50").repartition(5), statsCol = Some("k"))
    Txn.commitAppendIdempotent(spark, root,
      df.where("k >= 50").repartition(5), "sb0")
    assert(Txn.snapshotFiles(spark, root, 2).size == 10)
    val v = Txn.compact(spark, root, numFiles = 2, statsCol = Some("k"))
    assert(v == 3)
    assert(Txn.snapshotFiles(spark, root, 3).size == 2, "no file fold")
    // layout-only: the head equals the pre-compaction table
    assert(Txn.read(spark, root).count() == 100)
    assert(Txn.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == (0L until 100L).toSet)
    // history intact: v1 still reads its original half
    assert(Txn.read(spark, root, Some(1)).count() == 50)
    // idempotence tags carried through the rewrite
    assert(Txn.committedTags(spark, root, 3) == Seq("sb0"))
    assert(Txn.commitAppendIdempotent(spark, root,
      df.limit(1), "sb0").isEmpty)
    // stats re-recorded on the compacted files: skip-scan prunes
    assert(Txn.snapshotEntries(spark, root, 3).forall(_.statsFor("k").isDefined))
    assert(Txn.readWhere(spark, root, "k", 10d, 20d).count() == 11)
  }

  test("schema evolution: gated at commit, NULL-filled both directions, time travel exact") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      Seq((1L, 10L)).toDF("k", "n"))
    // un-flagged drift (added column) throws AT COMMIT — the loud
    // failure the strict union used to give at read time, moved to
    // where the writer bug actually is
    val widened = Seq((2L, 20L, 2.5)).toDF("k", "n", "extra")
    intercept[IllegalArgumentException](
      Txn.commitAppend(spark, root, widened))
    assert(Txn.currentVersion(spark, root) == 1, "failed append left a version")
    // explicit mergeSchema: head read fills v1's missing column NULL
    assert(Txn.commitAppend(spark, root, widened, mergeSchema = true) == 2)
    val head = Txn.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(r.fieldIndex("extra"))))).toSet
    assert(head == Set((1L, 10L, None), (2L, 20L, Some(2.5))))
    // time travel: v1 keeps its ORIGINAL two-column shape
    val v1 = Txn.read(spark, root, Some(1))
    assert(v1.columns.toSeq == Seq("k", "n"))
    assert(v1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L)))
    // reverse direction: a later commit DROPPING a column NULL-fills
    // the newest files instead (file-group semantics, not head-schema)
    assert(Txn.commitAppend(spark, root,
      Seq((3L, 30L)).toDF("k", "n"), mergeSchema = true) == 3)
    val afterDrop = Txn.read(spark, root)
      .where(col("k") === 3L).collect().head
    assert(afterDrop.isNullAt(afterDrop.fieldIndex("extra")))
  }

  test("readChanges: exact file-set delta, empty when unchanged, since-0 is everything") {
    val root = freshRoot()
    val v1 = Txn.commitOverwrite(spark, root,
      Seq((1L, "a", 10L)).toDF("k", "part", "n"), Seq("part"))
    Txn.commitAppend(spark, root,
      Seq((2L, "b", 20L)).toDF("k", "part", "n"), Seq("part"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "part", "n").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // the delta is EXACTLY v2's rows
    assert(rows(Txn.readChanges(spark, root, v1)) == Set((2L, "b", 20L)))
    // since 0 = the whole table; since head = typed empty frame
    assert(rows(Txn.readChanges(spark, root, 0)) ==
      Set((1L, "a", 10L), (2L, "b", 20L)))
    val none = Txn.readChanges(spark, root, 2)
    assert(none.count() == 0 && none.columns.nonEmpty)
    // bounded range: changes in (0, 1] are v1's rows only
    assert(rows(Txn.readChanges(spark, root, 0, Some(1))) ==
      Set((1L, "a", 10L)))
  }

  test("vacuum never deletes files any committed snapshot references") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      Seq((1L, "a", 10L)).toDF("k", "part", "n"), Seq("part"))
    Txn.commitReplacePartitions(spark, root,
      Seq((2L, "a", 20L)).toDF("k", "part", "n"), "part")
    // v1's file is no longer in the head but IS in snapshot v1 — even
    // a zero-retention vacuum must spare it
    assert(Txn.vacuum(spark, root, olderThanMs = 0L) == 0)
    assert(table(root, Some(1)) == Set((1L, "a", 10L)))
    assert(table(root) == Set((2L, "a", 20L)))
  }

  test("vacuum removes abandoned batch dirs (orphans gone, _SUCCESS-only)") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      Seq((1L, "a", 10L)).toDF("k", "part", "n"), Seq("part"))
    // a crashed committer's fully-staged but never-published batch
    Seq((666L, "a", 666L)).toDF("k", "part", "n")
      .write.partitionBy("part").parquet(s"$root/data/b00099-dead0000")
    val f = fs(root)
    val dead = new Path(s"$root/data/b00099-dead0000")
    assert(f.exists(dead))
    // retention-gated: the young dir survives a default-window vacuum
    Txn.vacuum(spark, root)
    assert(f.exists(dead))
    // zero-retention: orphan files AND their now-empty dir are gone;
    // live batch dirs are untouched
    assert(Txn.vacuum(spark, root, olderThanMs = 0L) >= 1)
    assert(!f.exists(dead), "abandoned batch dir survived vacuum")
    assert(table(root) == Set((1L, "a", 10L)))
  }

  test("stats survive an escaped partition value (every entry carries min/max)") {
    val root = freshRoot()
    // 'a:b' writes as part=a%3Ab — if the stats pass and the listing
    // pass normalize paths differently, stats.get misses and skip-scan
    // silently stops pruning on such tables (r10 advice)
    val df = Seq((1L, "a:b", 10L), (2L, "a:b", 20L), (3L, "pl ain", 30L))
      .toDF("k", "part", "n")
    Txn.commitOverwrite(spark, root, df, Seq("part"), statsCol = Some("k"))
    val entries = Txn.snapshotEntries(spark, root, 1)
    assert(entries.nonEmpty)
    assert(entries.forall(_.statsFor("k").isDefined),
      s"stats dropped on escaped-partition files: $entries")
    val got = Txn.readWhere(spark, root, "k", 1d, 2d)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
  }

  test("commitDelete: stats-pruned copy-on-write — untouched lines verbatim, time travel intact") {
    val root = freshRoot()
    val df = spark.range(1000).select(col("id").as("k"), (col("id") % 7).as("v"))
    Txn.commitOverwrite(spark, root, df.repartitionByRange(10, col("k")),
      statsCol = Some("k"))
    val before = Txn.snapshotLines0(spark, root, 1)
    // keys land in exactly one range file (250..259 of 10 even ranges)
    val keys = spark.range(250, 260).select(col("id").as("k"))
    assert(Txn.commitDelete(spark, root, keys, "k",
      statsCol = Some("k")) == 2)
    val after = Txn.snapshotLines0(spark, root, 2)
    // stats prune: all but ~1 of the 10 files carried VERBATIM
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.size >= 8,
      s"delete rewrote non-matching files: carried ${carried.size} of 10")
    // the delete is exact and prior versions still read pre-delete
    val got = Txn.read(spark, root).select("k")
      .collect().map(_.getLong(0)).toSet
    assert(got == (0L until 1000L).toSet -- (250L until 260L))
    assert(Txn.read(spark, root, Some(1)).count() == 1000)
    // deleting keys no file can hold is a clean no-op commit: every
    // data line carries verbatim, nothing is restaged
    assert(Txn.commitDelete(spark, root,
      spark.range(90000, 90010).select(col("id").as("k")), "k",
      statsCol = Some("k")) == 3)
    val dataLines = (v: Int) =>
      Txn.snapshotLines0(spark, root, v).filterNot(_.startsWith("#")).toSet
    assert(dataLines(3) == dataLines(2), "no-op delete restaged files")
    assert(Txn.read(spark, root).count() == 990)
  }

  test("commitDelete preserves partition layout and stats-less tables rewrite everything") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("k", "part", "n"), Seq("part"))
    Txn.commitDelete(spark, root, Seq(2L).toDF("k"), "k",
      partitionBy = Seq("part"))
    assert(table(root) == Set((1L, "a", 10L), (3L, "b", 30L)))
    // survivors restaged under partition dirs (layout preserved)
    assert(Txn.snapshotFiles(spark, root, 2).forall(_.contains("part=")))
    // empty-table edge: deleting the last rows leaves a readable
    // empty snapshot through the carried #schema line
    Txn.commitDelete(spark, root, Seq(1L, 3L).toDF("k"), "k",
      partitionBy = Seq("part"))
    assert(Txn.read(spark, root).count() == 0)
    assert(table(root, Some(1)) ==
      Set((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)))
  }

  test("commitDelete across schema evolution: NULL-filled survivors restage cleanly") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root, Seq((1L, 10L), (2L, 20L)).toDF("k", "n"))
    Txn.commitAppend(spark, root,
      Seq((3L, 30L, "x")).toDF("k", "n", "extra"), mergeSchema = true)
    // delete a row from the PRE-evolution file: the touched-file
    // re-read NULL-fills the evolved column, survivors restage in the
    // evolved shape, and the un-evolved sibling row keeps its NULL
    Txn.commitDelete(spark, root, Seq(1L).toDF("k"), "k")
    val got = Txn.read(spark, root).select("k", "n", "extra").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(got == Set((2L, 20L, None), (3L, 30L, Some("x"))))
    // history intact through both the evolution and the delete
    assert(Txn.read(spark, root, Some(1)).count() == 2)
    assert(Txn.read(spark, root, Some(2)).count() == 3)
  }

  test("commitMerge: stats-pruned upsert — update, insert, verbatim carry, dup-key throw") {
    val root = freshRoot()
    val base = spark.range(1000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
    Txn.commitOverwrite(spark, root, base.repartitionByRange(10, col("k")),
      statsCol = Some("k"))
    val before = Txn.snapshotLines0(spark, root, 1)
    // changeset: UPDATE keys 250..254 (v -> 999), INSERT 5000..5004
    val changes = (spark.range(250, 255) unionAll spark.range(5000, 5005))
      .select(col("id").as("k"), lit(999L).as("v"))
    assert(Txn.commitMerge(spark, root, changes, "k",
      statsCol = Some("k")) == 2)
    val after = Txn.snapshotLines0(spark, root, 2)
    // 250..254 land in one range file; 5000+ match nothing → only ~1
    // of 10 files rewrites, the rest carry verbatim
    assert(after.toSet.intersect(before.toSet)
      .count(!_.startsWith("#")) >= 8, "merge rewrote non-matching files")
    val got = Txn.read(spark, root).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 1005)
    assert((250L until 255L).forall(k => got(k) == 999L), "update lost")
    assert((5000L until 5005L).forall(k => got(k) == 999L), "insert lost")
    assert(got(100L) == 100L % 7, "untouched row changed")
    // prior version still reads the pre-merge state
    assert(Txn.read(spark, root, Some(1)).count() == 1000)
    // Delta's contract: an ambiguous (dup-key) changeset throws
    val dup = Seq((1L, 5L), (1L, 6L)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Txn.commitMerge(spark, root, dup, "k", statsCol = Some("k"))
    }
    // and NULL source keys throw rather than silently dropping
    val withNull = Seq((Some(2L), 5L), (None, 6L))
      .toDF("k", "v").select(col("k").cast("long").as("k"), col("v"))
    intercept[IllegalArgumentException] {
      Txn.commitMerge(spark, root, withNull, "k")
    }
    assert(Txn.currentVersion(spark, root) == 2,
      "failed merges must not commit")
  }

  test("readChangesCdf: multiset apply reproduces any snapshot across rewrites") {
    val root = freshRoot()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "n").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
    val v1 = Seq((1L, 10L), (2L, 20L)).toDF("k", "n")
    Txn.commitOverwrite(spark, root, v1)
    Txn.commitAppend(spark, root, Seq((3L, 30L)).toDF("k", "n"))
    // full rewrite drops k=2 — plain readChanges would misread this
    Txn.commitOverwrite(spark, root,
      Seq((1L, 10L), (3L, 30L), (4L, 40L)).toDF("k", "n"))
    Txn.compact(spark, root, numFiles = 1)
    Txn.commitAppend(spark, root, Seq((5L, 50L)).toDF("k", "n"))
    // copy-on-write delete participates in the feed like any rewrite
    Txn.commitDelete(spark, root, Seq(1L).toDF("k"), "k")
    val head = Txn.currentVersion(spark, root)
    assert(head == 6)
    for (since <- 0 to (head - 1); until <- (since + 1) to head) {
      val cdf = Txn.readChangesCdf(spark, root, since, Some(until))
      val ins = rows(cdf.where(col("_change_type") === "insert"))
      val del = rows(cdf.where(col("_change_type") === "delete"))
      val base = if (since == 0) Map.empty[(Long, Long), Int]
        else rows(Txn.read(spark, root, Some(since)))
      val applied = (base.keySet ++ ins.keySet ++ del.keySet).flatMap { r =>
        val nn = base.getOrElse(r, 0) + ins.getOrElse(r, 0) - del.getOrElse(r, 0)
        if (nn > 0) Some(r -> nn) else None
      }.toMap
      assert(applied == rows(Txn.read(spark, root, Some(until))),
        s"CDF apply mismatch for $since..$until")
      // change versions stay inside the requested range
      val vs = cdf.select("_commit_version").distinct()
        .collect().map(_.getInt(0))
      assert(vs.forall(v => v > since && v <= until))
    }
    // unchanged range → typed empty frame with the CDF columns
    val none = Txn.readChangesCdf(spark, root, head, Some(head))
    assert(none.count() == 0)
    assert(none.columns.contains("_change_type") &&
      none.columns.contains("_commit_version"))
  }

  test("tag checkpoint roll survives losing a commit race at the boundary") {
    val root = freshRoot()
    // fill the suffix budget exactly, so the NEXT tagged commit rolls
    (1 to Txn.tagCheckpointEvery).foreach { i =>
      Txn.commitAppendIdempotent(spark, root,
        Seq((i.toLong, "a", i.toLong)).toDF("k", "part", "n"), f"r$i%04d")
    }
    val head = Txn.currentVersion(spark, root)
    // a racing committer steals the next version (a valid committed
    // state: copy of the head's lines — tags included), exactly like
    // the plain optimistic-concurrency spec does
    val f = fs(root)
    val os = f.create(
      new Path(f"$root/_manifests/v${head + 1}%05d.manifest"), false)
    os.write((Txn.snapshotLines0(spark, root, head).mkString("\n") + "\n")
      .getBytes("UTF-8")); os.close()
    // our commit loses, restages against the racer's head, and ROLLS
    // the checkpoint there — the consolidated set must contain every
    // prior tag plus the new one, and pre-roll replays short-circuit
    assert(Txn.commitAppendIdempotent(spark, root,
      Seq((99L, "a", 99L)).toDF("k", "part", "n"), "rnew")
      == Some(head + 2))
    val tags = Txn.committedTags(spark, root, head + 2).toSet
    assert(tags ==
      (1 to Txn.tagCheckpointEvery).map(i => f"r$i%04d").toSet + "rnew")
    assert(Txn.commitAppendIdempotent(spark, root,
      Seq((666L, "a", 666L)).toDF("k", "part", "n"), "r0001").isEmpty)
    // the rolled head manifest carries a bounded suffix + a base ptr
    val lines = Txn.snapshotLines0(spark, root, head + 2)
    assert(lines.exists(_.startsWith("#tagbase:")))
    assert(lines.count(_.startsWith("#txn:")) == 1)
  }

  test("tag checkpointing: head/time-travel/idempotence stable across 3x the interval") {
    val root = freshRoot()
    val n = Txn.tagCheckpointEvery * 3 + 4
    val got = (1 to n).map { i =>
      Txn.commitAppendIdempotent(spark, root,
        Seq((i.toLong, "a", i.toLong)).toDF("k", "part", "n"), f"t$i%04d")
    }
    assert(got.forall(_.isDefined), "a tagged commit was dropped")
    val head = Txn.currentVersion(spark, root)
    assert(head == n)
    // the FULL tag set survives every checkpoint roll
    assert(Txn.committedTags(spark, root, head).toSet ==
      (1 to n).map(i => f"t$i%04d").toSet)
    // the head manifest itself carries only a bounded suffix
    val headLines = Txn.snapshotLines0(spark, root, head)
    assert(headLines.count(_.startsWith("#txn:")) <= Txn.tagCheckpointEvery,
      "manifest tag block not bounded — checkpoint never rolled")
    assert(headLines.exists(_.startsWith("#tagbase:")))
    // replay of a PRE-checkpoint tag still short-circuits (idempotence
    // resolves through the checkpoint file, not just the suffix)
    assert(Txn.commitAppendIdempotent(spark, root,
      Seq((666L, "a", 666L)).toDF("k", "part", "n"), "t0001").isEmpty)
    assert(Txn.currentVersion(spark, root) == head)
    // time travel across the boundary: version at the first roll reads
    // exactly its prefix of rows, as does the head
    val atRoll = Txn.tagCheckpointEvery + 1
    assert(Txn.read(spark, root, Some(atRoll)).count() == atRoll.toLong)
    assert(Txn.read(spark, root).count() == n.toLong)
    // rewrites keep resolving the checkpointed set
    Txn.commitOverwrite(spark, root, Seq((0L, "a", 0L)).toDF("k", "part", "n"))
    assert(Txn.committedTags(spark, root, head + 1).toSet ==
      (1 to n).map(i => f"t$i%04d").toSet)
    assert(Txn.commitAppendIdempotent(spark, root,
      Seq((667L, "a", 667L)).toDF("k", "part", "n"), f"t$n%04d").isEmpty)
  }

  test("_latest head hint: stale, missing, and garbage all resolve the true head") {
    val root = freshRoot()
    (1 to 3).foreach { i =>
      Txn.commitAppend(spark, root,
        Seq((i.toLong, "a", i.toLong)).toDF("k", "part", "n"))
    }
    val f = fs(root)
    val latest = new Path(s"$root/_manifests/_latest")
    assert(f.exists(latest), "publish must advance the hint")
    assert(Txn.currentVersion(spark, root) == 3)
    // STALE hint (a racer published since the last hint write): the
    // forward probe walks past it
    val os1 = f.create(latest, true); os1.write("1\n".getBytes); os1.close()
    assert(Txn.currentVersion(spark, root) == 3)
    // MISSING hint (pre-pointer table / swap window): listing fallback
    f.delete(latest, false)
    assert(Txn.currentVersion(spark, root) == 3)
    // GARBAGE hint: parse failure falls back, never throws
    val os2 = f.create(latest, true); os2.write("nonsense".getBytes); os2.close()
    assert(Txn.currentVersion(spark, root) == 3)
    // the next publish repairs the hint (monotone advance)
    Txn.commitAppend(spark, root, Seq((4L, "a", 4L)).toDF("k", "part", "n"))
    assert(Txn.currentVersion(spark, root) == 4)
    val in = f.open(latest)
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    assert(s == "4")
  }

  test("expireManifests: 5x the window in commits — window exact, tail gone, tags consolidate, vacuum shrinks to survivors") {
    val root = freshRoot()
    val nTagged = Txn.tagCheckpointEvery + 2 // forces one checkpoint roll
    (1 to nTagged).foreach { i =>
      Txn.commitAppendIdempotent(spark, root,
        Seq((i.toLong, "a", i.toLong)).toDF("k", "part", "n"), f"e$i%04d")
    }
    val vCompact = Txn.compact(spark, root, numFiles = 1) // rewrites all
    (1 to 4).foreach { i =>
      Txn.commitAppendIdempotent(spark, root,
        Seq((1000L + i, "a", i.toLong)).toDF("k", "part", "n"), f"p$i%04d")
    }
    val head = Txn.currentVersion(spark, root)
    assert(head == nTagged + 5 && vCompact == nTagged + 1)

    // force the CONSOLIDATION path: drop every checkpoint tags file so
    // survivors' #tagbase can only resolve if expiry rematerializes it
    // from the expiring manifests first
    val f = fs(root)
    f.listStatus(new Path(s"$root/_manifests"))
      .filter(_.getPath.getName.matches("t\\d+\\.tags"))
      .foreach(s => f.delete(s.getPath, false))

    val keep = 5 // head..head-4 = vCompact..head survive; 1..nTagged expire
    val expired = Txn.expireManifests(spark, root, keep)
    assert(expired == (1 to head - keep))
    assert(Txn.currentVersion(spark, root) == head)

    // window reads exact; the expired tail throws a clear error
    assert(Txn.read(spark, root, Some(vCompact)).count() == nTagged.toLong)
    assert(Txn.read(spark, root).count() == nTagged.toLong + 4)
    assert(table(root).contains((1001L, "a", 1L)))
    val ex = intercept[RuntimeException](Txn.read(spark, root, Some(1)))
    assert(ex.getMessage.contains("expired"))

    // idempotence across expiry: the FULL tag set (including tags
    // committed far before the window) resolves and still dedups
    assert(Txn.committedTags(spark, root, head).toSet ==
      ((1 to nTagged).map(i => f"e$i%04d") ++
        (1 to 4).map(i => f"p$i%04d")).toSet)
    assert(Txn.commitAppendIdempotent(spark, root,
      Seq((666L, "a", 666L)).toDF("k", "part", "n"), "e0001").isEmpty)

    // vacuum's live set shrinks to the surviving window: the expired
    // appends' batch files (rewritten away by the compact) reclaim
    val removed = Txn.vacuum(spark, root, olderThanMs = 0)
    assert(removed >= nTagged, s"expired batches should reclaim: $removed")
    assert(Txn.read(spark, root).count() == nTagged.toLong + 4)
    assert(Txn.read(spark, root, Some(vCompact)).count() == nTagged.toLong)

    // an idempotent no-op: nothing newly expirable
    assert(Txn.expireManifests(spark, root, keep).isEmpty)
  }

  test("restore: metadata-only rollback — old files re-referenced, history intact, tags monotone") {
    val root = freshRoot()
    Txn.commitAppendIdempotent(spark, root,
      Seq((1L, "a", 10L)).toDF("k", "part", "n"), "rb1")
    Txn.commitAppendIdempotent(spark, root,
      Seq((2L, "a", 20L)).toDF("k", "part", "n"), "rb2")
    val goodFiles = Txn.snapshotFiles(spark, root, 2)
    // the "bad" commit a rollback exists for
    Txn.commitOverwrite(spark, root,
      Seq((666L, "a", 666L)).toDF("k", "part", "n"))
    assert(table(root) == Set((666L, "a", 666L)))
    val v = Txn.restore(spark, root, toVersion = 2)
    assert(v == 4)
    // content == the restored snapshot, via the SAME files (no copy)
    assert(table(root) == Set((1L, "a", 10L), (2L, "a", 20L)))
    assert(Txn.snapshotFiles(spark, root, 4) == goodFiles,
      "restore must re-reference, never rewrite")
    // the bad version stays time-travelable (history is append-only)
    assert(table(root, Some(3)) == Set((666L, "a", 666L)))
    // idempotence is MONOTONE across rollback: both tags still
    // committed, replay still short-circuits
    assert(Txn.committedTags(spark, root, 4).toSet == Set("rb1", "rb2"))
    assert(Txn.commitAppendIdempotent(spark, root,
      Seq((777L, "a", 777L)).toDF("k", "part", "n"), "rb2").isEmpty)
    // restored files survive vacuum (re-referenced by the head)
    Txn.vacuum(spark, root, olderThanMs = 0L)
    assert(table(root) == Set((1L, "a", 10L), (2L, "a", 20L)))
    // restoring a not-yet-committed version refuses
    intercept[IllegalArgumentException](Txn.restore(spark, root, 99))
  }

  test("expiry GCs superseded tag checkpoints, keeps the referenced one") {
    val root = freshRoot()
    // two checkpoint rolls: t<w1>.tags (superseded once the second
    // roll lands and every manifest referencing it expires) and
    // t<w2>.tags (referenced by the surviving head chain)
    val n = Txn.tagCheckpointEvery * 2 + 4
    (1 to n).foreach { i =>
      Txn.commitAppendIdempotent(spark, root,
        Seq((i.toLong, "a", i.toLong)).toDF("k", "part", "n"), f"g$i%04d")
    }
    val f = fs(root)
    def tagFiles() = f.listStatus(new Path(s"$root/_manifests"))
      .map(_.getPath.getName).filter(_.matches("t\\d+\\.tags")).sorted.toSeq
    val before = tagFiles()
    assert(before.size == 2, s"expected two rolls, got $before")
    Txn.expireManifests(spark, root, keepLast = 4)
    val after = tagFiles()
    assert(after == Seq(before.last),
      s"superseded checkpoint not reclaimed: $after")
    // the FULL tag set still resolves through the surviving checkpoint
    assert(Txn.committedTags(spark, root,
      Txn.currentVersion(spark, root)).toSet ==
      (1 to n).map(i => f"g$i%04d").toSet)
    assert(Txn.commitAppendIdempotent(spark, root,
      Seq((666L, "a", 666L)).toDF("k", "part", "n"), "g0001").isEmpty)
  }

  test("true concurrency: six threads of appends all land exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      Seq((0L, "a", 0L)).toDF("k", "part", "n"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      // 6 genuinely concurrent committers: every publish race is real
      // (no test seam) — rename-no-overwrite must hand out each
      // version exactly once and the losers' retries must land
      val vs = Await.result(Future.sequence((1 to 6).map { i =>
        Future(Txn.commitAppend(spark, root,
          Seq((i.toLong, "a", i.toLong)).toDF("k", "part", "n"),
          maxRetries = 64))
      }), 4.minutes)
      assert(vs.toSet.size == 6, s"two committers claimed one version: $vs")
      assert(vs.toSet == (2 to 7).toSet)
      assert(Txn.currentVersion(spark, root) == 7)
      assert(Txn.read(spark, root).select("k").collect()
        .map(_.getLong(0)).toSet == (0L to 6L).toSet,
        "a racing append was lost")
    } finally pool.shutdown()
  }

  // ---- write-write conflict matrix -----------------------------------
  // Races are injected through Txn.raceOnce: the hook fires between the
  // loser's stage and publish — the exact window a real concurrent
  // committer wins in — so the loser's FIRST publish fails and the
  // retry enters the conflict check deterministically.

  /** Write `df` as a real parquet batch under root/data and return its
    * manifest data lines — what a racing committer would stage. */
  private def fabricateBatch(root: String, df: org.apache.spark.sql.DataFrame,
      partitionBy: Seq[String] = Nil): Seq[String] = {
    val tag = s"brace-${java.util.UUID.randomUUID().toString.take(8)}"
    val w = df.write
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(s"$root/data/$tag")
    val f = fs(root)
    val it = f.listFiles(new Path(s"$root/data/$tag"), true)
    val base = new Path(s"$root/data").toUri.getPath
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && !n.startsWith("_") && !n.startsWith("."))
        out += st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
    }
    out.toSeq.sorted
  }

  /** Publish a fabricated racing commit at head+1: meta lines carried
    * verbatim, data lines transformed by `delta`. */
  private def injectCommit(root: String,
      delta: Seq[String] => Seq[String]): Unit = {
    val head = Txn.currentVersion(spark, root)
    val lines = Txn.snapshotLines0(spark, root, head)
    val (meta, data) = lines.partition(_.startsWith("#"))
    val f = fs(root)
    val os = f.create(
      new Path(f"$root/_manifests/v${head + 1}%05d.manifest"), false)
    os.write(((meta ++ delta(data)).mkString("\n") + "\n").getBytes("UTF-8"))
    os.close()
  }

  /** Fresh table: part x holds k=1,2; part y holds k=3,4. */
  private def conflictFixture(): String = {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      Seq((1L, "x", 10L), (2L, "x", 20L), (3L, "y", 30L), (4L, "y", 40L))
        .toDF("k", "part", "n"), Seq("part"))
    root
  }

  test("conflict: merge ∥ merge on overlapping keys — the loser throws, the racer's state stands") {
    val root = conflictFixture()
    // the racer rewrites part=x (its merge touched k=2)
    Txn.raceOnce.set(Some(() => injectCommit(root, data => {
      data.filterNot(_.contains("part=x")) ++ fabricateBatch(root,
        Seq((1L, "x", 10L), (2L, "x", 999L)).toDF("k", "part", "n"))
    })))
    val ex = intercept[Txn.ConcurrentWriteException] {
      Txn.commitMerge(spark, root,
        Seq((2L, "x", 555L)).toDF("k", "part", "n"), "k", Seq("part"))
    }
    assert(ex.getMessage.contains("overlapping"))
    // the racer's commit is the head; the loser landed NOTHING
    assert(Txn.currentVersion(spark, root) == 2)
    assert(table(root) == Set((1L, "x", 10L), (2L, "x", 999L),
      (3L, "y", 30L), (4L, "y", 40L)))
  }

  test("conflict: merge ∥ merge on disjoint keys — both land") {
    val root = conflictFixture()
    Txn.raceOnce.set(Some(() => injectCommit(root, data => {
      data.filterNot(_.contains("part=x")) ++ fabricateBatch(root,
        Seq((1L, "x", 111L), (2L, "x", 222L)).toDF("k", "part", "n"))
    })))
    // our merge touches only k=4 — disjoint from the racer's {1,2}
    val v = Txn.commitMerge(spark, root,
      Seq((4L, "y", 444L)).toDF("k", "part", "n"), "k", Seq("part"))
    assert(v == 3)
    // BOTH intents present: racer's x rewrite and our y upsert
    assert(table(root) == Set((1L, "x", 111L), (2L, "x", 222L),
      (3L, "y", 30L), (4L, "y", 444L)))
  }

  test("conflict: delete ∥ append disjoint — both land; overlapping append throws") {
    val root = conflictFixture()
    // disjoint: the racer appends k=20 while we delete k=3
    Txn.raceOnce.set(Some(() => injectCommit(root, data =>
      data ++ fabricateBatch(root,
        Seq((20L, "z", 200L)).toDF("k", "part", "n")))))
    val v = Txn.commitDelete(spark, root, Seq(3L).toDF("k"), "k", Seq("part"))
    assert(v == 3)
    assert(table(root) == Set((1L, "x", 10L), (2L, "x", 20L),
      (4L, "y", 40L), (20L, "z", 200L)))

    // overlapping: a racer appends k=4 while we delete k=4 — our
    // delete read a snapshot WITHOUT that row; silently restaging
    // would make the outcome depend on commit order. Throw.
    Txn.raceOnce.set(Some(() => injectCommit(root, data =>
      data ++ fabricateBatch(root,
        Seq((4L, "y", 4444L)).toDF("k", "part", "n")))))
    intercept[Txn.ConcurrentWriteException] {
      Txn.commitDelete(spark, root, Seq(4L).toDF("k"), "k", Seq("part"))
    }
    assert(table(root).contains((4L, "y", 4444L)), "racer's append stands")
  }

  test("multi-column stats: a conjunction opens only the INTERSECTION of per-column file sets") {
    val root = freshRoot()
    // k range-partitions into 10 files; j = k + 500 rides along, so
    // each predicate selects a different slice of the SAME files and
    // the conjunction must open exactly the intersection. Both
    // columns' stats come from the one declared stats pass.
    val df = spark.range(1000).select(col("id").as("k"),
      (col("id") + 500).as("j"))
    Txn.commitOverwrite(spark, root, df.repartitionByRange(10, col("k")),
      statsCols = Seq("k", "j"))
    val entries = Txn.snapshotEntries(spark, root, 1)
    assert(entries.size == 10)
    assert(entries.forall(e => e.namedStats("k").isDefined &&
      e.namedStats("j").isDefined), s"two-column stats missing: $entries")
    val kFiles = Txn.filesForPreds(spark, root, Seq(("k", 0d, 399d)))
    val jFiles = Txn.filesForPreds(spark, root, Seq(("j", 800d, 899d)))
    val both = Txn.filesForPreds(spark, root,
      Seq(("k", 0d, 399d), ("j", 800d, 899d)))
    // the conjunction IS the intersection, strictly tighter than the
    // wider single-column candidate set
    assert(both.toSet == kFiles.toSet.intersect(jFiles.toSet))
    assert(both.size < kFiles.size, s"${both.size} vs k:${kFiles.size}")
    assert(both.size <= jFiles.size)
    // and the skip-scan result is EXACT: j 800..899 == k 300..399
    val got = Txn.readWhereAll(spark, root,
        Seq(("k", 0d, 399d), ("j", 800d, 899d)))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == (300L to 399L).toSet)
    // a predicate on a column with NO recorded stats never prunes
    assert(Txn.filesForPreds(spark, root,
      Seq(("unstated", 0d, 1d))).size == 10)
    // row-level prune verifies the NAME: a delete keyed on j prunes by
    // j's recorded ranges even though k was also declared (the r12
    // advice hazard — pruning on a column whose stats weren't recorded
    // — is structurally impossible now)
    val before = Txn.snapshotFiles(spark, root, 1).toSet
    Txn.commitDelete(spark, root,
      spark.range(850, 860).select(col("id").as("j")), "j",
      statsCols = Seq("k", "j"))
    val after = Txn.snapshotFiles(spark, root, 2).toSet
    assert((before -- after).size <= 2,
      s"delete keyed on j rewrote ${(before -- after).size} files — no prune")
    assert(Txn.read(spark, root).count() == 990)
  }

  test("commitDeleteWhere: in-range files drop by metadata, boundaries rewrite, NULLs survive") {
    val root = freshRoot()
    def frame(rows: Seq[(Long, Option[Double])]) =
      rows.toDF("id", "v").coalesce(1)
    // four single-file commits with v-stats:
    //  f0: v 0..9 fully in range, no NULLs  → metadata drop
    //  f1: v 10..19 straddles the boundary  → rewrite minus matches
    //  f2: v 20..29 disjoint                → carried verbatim
    //  f3: v 1..3 in range BUT one NULL row → nullCount > 0, rewrite;
    //      the NULL row must survive (a range predicate never matches it)
    Txn.commitOverwrite(spark, root,
      frame((0L to 9L).map(i => (i, Some(i.toDouble)))),
      statsCols = Seq("v"))
    Txn.commitAppend(spark, root,
      frame((10L to 19L).map(i => (i, Some(i.toDouble)))),
      statsCols = Seq("v"))
    Txn.commitAppend(spark, root,
      frame((20L to 29L).map(i => (i, Some(i.toDouble)))),
      statsCols = Seq("v"))
    Txn.commitAppend(spark, root,
      frame(Seq((100L, Some(1d)), (101L, Some(3d)), (102L, None))),
      statsCols = Seq("v"))
    val before = Txn.snapshotEntries(spark, root, 4)
    assert(before.size == 4)
    assert(before.forall(_.nullsFor("v").isDefined), "null counts missing")
    val f0 = before.map(_.path).head
    val f2 = before.map(_.path)(2)

    val v = Txn.commitDeleteWhere(spark, root, "v", 0d, 15d)
    assert(v == 5)
    val after = Txn.snapshotFiles(spark, root, 5)
    assert(!after.contains(f0), "fully-in-range file not dropped")
    assert(after.contains(f2), "disjoint file must carry verbatim")
    // exactly the complement survives — including the NULL row
    val got = Txn.read(spark, root).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1d else r.getDouble(1)))
      .toSet
    assert(got == ((16L to 29L).map(i => (i, i.toDouble)) :+
      ((102L, -1d))).toSet)
    assert(Txn.history(spark, root).head.kind == "delete_where")
    // time travel: the purged rows remain readable at v4
    assert(Txn.read(spark, root, Some(4)).count() == 33)

    // conflict: a racer writing an IN-RANGE row makes the loser throw
    Txn.raceOnce.set(Some(() => injectCommit(root, data =>
      data ++ fabricateBatch(root, frame(Seq((999L, Some(17d))))))))
    val v2 = Txn.commitDeleteWhere(spark, root, "v", 16d, 16d)
    assert(v2 == 7, "disjoint racer must not block") // racer took v6
    Txn.raceOnce.set(Some(() => injectCommit(root, data =>
      data ++ fabricateBatch(root, frame(Seq((998L, Some(25d))))))))
    intercept[Txn.ConcurrentWriteException] {
      Txn.commitDeleteWhere(spark, root, "v", 20d, 29d)
    }
  }

  test("history: every verb records its kind; expiry windows the log") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "part", "n"), Seq("part"))
    Txn.commitAppend(spark, root,
      Seq((3L, "a", 30L)).toDF("k", "part", "n"), Seq("part"))
    Txn.commitAppendIdempotent(spark, root,
      Seq((4L, "a", 40L)).toDF("k", "part", "n"), "h1", Seq("part"))
    Txn.commitReplacePartitions(spark, root,
      Seq((9L, "b", 90L)).toDF("k", "part", "n"), "part")
    Txn.commitDelete(spark, root, Seq(3L).toDF("k"), "k", Seq("part"))
    Txn.commitMerge(spark, root,
      Seq((1L, "a", 111L)).toDF("k", "part", "n"), "k", Seq("part"))
    Txn.restore(spark, root, toVersion = 2)
    val h = Txn.history(spark, root)
    assert(h.map(_.version) == (7 to 1 by -1))
    assert(h.map(_.kind) == Seq("restore:2", "merge", "delete",
      "replace_partitions", "append_idempotent", "append", "overwrite"))
    assert(h.forall(_.nFiles >= 1))
    assert(h.find(_.version == 3).exists(_.nTags == 1)) // the h1 suffix
    assert(h.forall(_.committedAtMs > 0L))
    // expiry windows the log: only the retained tail remains
    Txn.expireManifests(spark, root, keepLast = 3)
    assert(Txn.history(spark, root).map(_.version) == Seq(7, 6, 5))
  }

  test("manifest stats survive extreme doubles byte-exactly (toString round-trip)") {
    val root = freshRoot()
    // stats ride the manifest as Double.toString text; the reader must
    // reproduce the exact binary double (Java guarantees the
    // toString→parseDouble round-trip) — negatives, subnormals,
    // scientific notation, and huge magnitudes included
    val vals = Seq(-1.7976931348623157e308, -1e-7, -0.0, 0.0,
      4.9e-324, 1.23456789012345e-5, 42.5, 9.007199254740993e15,
      1.7976931348623157e308)
    val df = vals.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("k", "x")
    Txn.commitOverwrite(spark, root, df.repartition(3),
      statsCols = Seq("k", "x"))
    val entries = Txn.snapshotEntries(spark, root, 1)
    assert(entries.forall(_.namedStats("x").isDefined))
    val (lo, hi) = (vals.min, vals.max)
    val mn = entries.flatMap(_.namedStats("x")).map(_._1).min
    val mx = entries.flatMap(_.namedStats("x")).map(_._2).max
    assert(mn == lo && mx == hi, s"range drifted: [$mn,$mx] vs [$lo,$hi]")
    // skip-scan over a subnormal-tight range still answers exactly
    // (picks up the subnormal and the 1.23e-5, excludes ±0.0 and 42.5)
    assert(Txn.readWhere(spark, root, "x", 4.9e-324, 1e-4)
      .select("k").collect().map(_.getLong(0)).toSet == Set(4L, 5L))
  }

  test("compactZOrder: two-column predicates open a rectangle of files, not a stripe") {
    val root = freshRoot()
    // a 64×64 grid: x and y independent, so a layout sorted by either
    // column alone leaves the other unprunable
    val df = spark.range(4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"),
      col("id").as("payload"))
    Txn.commitOverwrite(spark, root, df.repartitionByRange(16, col("x")),
      statsCols = Seq("x", "y"))
    // range-partitioned by x: a y-only predicate opens EVERY file
    assert(Txn.filesForPreds(spark, root, Seq(("y", 10d, 17d))).size == 16)
    Txn.compactZOrder(spark, root, "x", "y", numFiles = 16)
    // layout-only rewrite
    assert(Txn.read(spark, root).count() == 4096)
    assert(Txn.snapshotFiles(spark, root,
      Txn.currentVersion(spark, root)).size == 16)
    // each Z-clustered file covers a rectangle: BOTH single-column
    // predicates prune, and the conjunction opens only the corner
    val zx = Txn.filesForPreds(spark, root, Seq(("x", 10d, 17d)))
    val zy = Txn.filesForPreds(spark, root, Seq(("y", 10d, 17d)))
    val zb = Txn.filesForPreds(spark, root,
      Seq(("x", 10d, 17d), ("y", 10d, 17d)))
    assert(zx.size < 16 && zy.size < 16,
      s"single-column pruning lost: x=${zx.size} y=${zy.size}")
    assert(zb.size <= math.min(zx.size, zy.size))
    assert(zb.size <= 8, s"rectangle opened ${zb.size} of 16 files")
    // and the skip-scan result is EXACT: 8 x-values × 8 y-values
    assert(Txn.readWhereAll(spark, root,
      Seq(("x", 10d, 17d), ("y", 10d, 17d))).count() == 64)
  }

  test("conflict: replace ∥ write into the replaced partition throws; disjoint partitions land") {
    val root = conflictFixture()
    // DISJOINT: the racer appends into part=z while we replace part=x
    Txn.raceOnce.set(Some(() => injectCommit(root, data =>
      data ++ fabricateBatch(root,
        Seq((20L, "z", 200L)).toDF("k", "part", "n"), Seq("part")))))
    val v = Txn.commitReplacePartitions(spark, root,
      Seq((11L, "x", 110L)).toDF("k", "part", "n"), "part")
    assert(v == 3)
    assert(table(root) == Set((11L, "x", 110L), (3L, "y", 30L),
      (4L, "y", 40L), (20L, "z", 200L)), "both disjoint intents present")

    // OVERLAP: a racer appends INTO part=y while we replace part=y —
    // restaging would silently clobber the racer's committed row
    Txn.raceOnce.set(Some(() => injectCommit(root, data =>
      data ++ fabricateBatch(root,
        Seq((5L, "y", 50L)).toDF("k", "part", "n"), Seq("part")))))
    val ex = intercept[Txn.ConcurrentWriteException] {
      Txn.commitReplacePartitions(spark, root,
        Seq((9L, "y", 90L)).toDF("k", "part", "n"), "part")
    }
    assert(ex.getMessage.contains("part=y"))
    assert(table(root).contains((5L, "y", 50L)), "racer's append stands")
    assert(!table(root).exists(_._1 == 9L), "loser landed nothing")
  }

  test("commitMerge mergeSchema commits the UNION schema, never narrowing") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      Seq((1L, "x", 10L), (2L, "x", 20L)).toDF("k", "part", "n"))
    // source LACKS column n — pre-fix this narrowed the committed
    // #schema to (k, part), making the next strict append throw
    val vm = Txn.commitMerge(spark, root,
      Seq((2L, "x"), (5L, "z")).toDF("k", "part"), "k", mergeSchema = true)
    assert(vm == 2)
    // a strict full-schema append works: the table still HAS n
    Txn.commitAppend(spark, root, Seq((9L, "y", 90L)).toDF("k", "part", "n"))
    val got = Txn.read(spark, root).select("k", "part", "n").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((1L, "x", 10L), (2L, "x", -1L), (5L, "z", -1L),
      (9L, "y", 90L)))
    // and a source ADDING a column widens the union
    Txn.commitMerge(spark, root,
      Seq((1L, "x", 10L, "new")).toDF("k", "part", "n", "extra"), "k",
      mergeSchema = true)
    val head = Txn.read(spark, root)
    assert(head.columns.toSet == Set("k", "part", "n", "extra"))
    assert(head.where(col("k") === 1L).head().getAs[String]("extra") == "new")
  }

  // ---- delta-log commit format (r14) ---------------------------------

  test("delta log: commit write cost is O(touched files), not O(table files)") {
    val root = freshRoot()
    // 64-file base: a pre-delta-log append would carry all 64 lines
    Txn.commitOverwrite(spark, root,
      spark.range(6400).select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(64, col("k")), statsCol = Some("k"))
    assert(Txn.snapshotFiles(spark, root, 1).size == 64)
    // append ONE file → raw manifest: meta + #base + 1 add, no carry
    Txn.commitAppend(spark, root,
      Seq((9999L, 0L)).toDF("k", "v").coalesce(1), statsCol = Some("k"))
    val rawAppend = Txn.rawManifestLines0(spark, root, 2)
    assert(rawAppend.exists(_ == "#base:1"), s"append not a delta: $rawAppend")
    assert(rawAppend.count(!_.startsWith("#")) == 1,
      s"append carried the table forward: ${rawAppend.size} lines")
    assert(rawAppend.size <= 6,
      s"append manifest not O(touched): ${rawAppend.size} lines")
    // delete keys living in ONE base file → #rm that file + its rewrite
    Txn.commitDelete(spark, root,
      spark.range(100, 110).select(col("id").as("k")), "k",
      statsCol = Some("k"))
    val rawDelete = Txn.rawManifestLines0(spark, root, 3)
    assert(rawDelete.count(_.startsWith("#rm:")) <= 2,
      s"delete removed more than the touched files: $rawDelete")
    assert(rawDelete.count(!_.startsWith("#")) <= 2,
      s"delete restaged more than the touched files: $rawDelete")
    assert(rawDelete.size <= 8, s"delete manifest not O(touched): $rawDelete")
    // the RESOLVED snapshot is still the full table, exactly
    assert(Txn.snapshotFiles(spark, root, 3).size >= 64)
    val got = Txn.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(got == ((0L until 6400L).toSet -- (100L until 110L)) + 9999L)
    // skip-scan stats flow through the chain untouched
    assert(Txn.readWhere(spark, root, "k", 200d, 205d).count() == 6)
  }

  test("delta log: checkpoint rolls at the chain bound; resolution equal either way") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root, Seq((0L, 0L)).toDF("k", "v"))
    val n = Txn.checkpointEvery + 3
    (1 to n).foreach { i =>
      Txn.commitAppend(spark, root, Seq((i.toLong, i.toLong)).toDF("k", "v"))
    }
    val f = fs(root)
    val cps = f.listStatus(new Path(s"$root/_manifests"))
      .map(_.getPath.getName).filter(_.matches("c\\d+\\.checkpoint"))
    assert(cps.nonEmpty, "no checkpoint rolled past the chain bound")
    // the checkpointed snapshot resolves identically with and without
    // its sidecar (the sidecar is advisory, never semantic)
    val cpv = cps.map(_.stripPrefix("c").stripSuffix(".checkpoint").toInt).min
    val withCp = Txn.snapshotLines0(spark, root, cpv)
    val cpPath = new Path(f"$root/_manifests/c$cpv%05d.checkpoint")
    val saved = {
      val in = f.open(cpPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    f.delete(cpPath, false)
    assert(Txn.snapshotLines0(spark, root, cpv) == withCp,
      "chain fold and sidecar checkpoint disagree")
    val os = f.create(cpPath, false)
    os.write(saved.getBytes("UTF-8")); os.close()
    // head reads the full accreted table through the chain
    assert(Txn.read(spark, root).count() == n + 1)
    assert(Txn.read(spark, root, Some(5)).count() == 5)
  }

  test("delta log: expiry materializes the oldest survivor before dropping its chain") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root, Seq((0L, 0L)).toDF("k", "v"))
    (1 to 9).foreach { i => // deltas v2..v10, chain rooted at v1
      Txn.commitAppend(spark, root, Seq((i.toLong, i.toLong)).toDF("k", "v"))
    }
    Txn.expireManifests(spark, root, keepLast = 4) // drops v1..v6
    val f = fs(root)
    assert(!f.exists(new Path(s"$root/_manifests/v00001.manifest")))
    // survivors (deltas whose textual base chain is gone) still resolve
    assert(Txn.read(spark, root).count() == 10)
    assert(Txn.read(spark, root, Some(7)).count() == 7)
    assert(f.exists(new Path(s"$root/_manifests/c00007.checkpoint")),
      "oldest survivor's full listing was not materialized")
    // CDF across the surviving window still reads per-commit deltas
    val cdf = Txn.readChangesCdf(spark, root, 7)
    assert(cdf.where(col("_change_type") === "insert").count() == 3)
    // vacuum keeps every file the surviving window references
    Txn.vacuum(spark, root, olderThanMs = 0)
    assert(Txn.read(spark, root, Some(7)).count() == 7)
  }

  test("compact and compactZOrder abort on a concurrent commit instead of erasing it") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      spark.range(100).select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartition(4))
    // racer appends between the head read and the publish — a blind
    // retry would restage the stale pre-append frame and erase it
    Txn.raceOnce.set(Some(() => injectCommit(root, data =>
      data ++ fabricateBatch(root, Seq((777L, 1L)).toDF("k", "v")))))
    intercept[Txn.ConcurrentWriteException] {
      Txn.compact(spark, root, numFiles = 1)
    }
    assert(Txn.read(spark, root).where(col("k") === 777L).count() == 1,
      "racer's append erased by compact")
    Txn.raceOnce.set(Some(() => injectCommit(root, data =>
      data ++ fabricateBatch(root, Seq((888L, 2L)).toDF("k", "v")))))
    intercept[Txn.ConcurrentWriteException] {
      Txn.compactZOrder(spark, root, "k", "v", numFiles = 2)
    }
    assert(Txn.read(spark, root).where(col("k") === 888L).count() == 1,
      "racer's append erased by compactZOrder")
    // rerunning on the new head (no racer) lands and keeps both rows
    Txn.compact(spark, root, numFiles = 1)
    assert(Txn.read(spark, root).count() == 102)
  }

  test("stats: NaN bounds are never recorded; NaN files are never skipped") {
    val root = freshRoot()
    val df = Seq((Double.NaN, "nanfile"), (5.0, "nanfile"))
      .toDF("x", "tag").coalesce(1)
    Txn.commitOverwrite(spark, root, df, statsCol = Some("x"))
    // Spark max() returns NaN for this file — the manifest must skip
    // the range rather than record an unusable NaN bound
    val e = Txn.snapshotEntries(spark, root, 1)
    assert(e.forall(_.namedStats("x").forall(t =>
      !t._1.isNaN && !t._2.isNaN)), s"NaN bound recorded: $e")
    // and the file is therefore NEVER pruned: the in-range row reads
    assert(Txn.readWhere(spark, root, "x", 4d, 6d).count() == 1)
    assert(Txn.filesForRange(spark, root, 4d, 6d).size == 1)
  }

  test("bloom stats: point-key delete opens only candidate files where every range spans the domain") {
    val root = freshRoot()
    // interleave keys so EVERY file's [min, max] covers ~the whole
    // domain — range pruning alone keeps all 16 files; the per-file
    // bloom is the only metadata that can narrow a point-key delete
    val df = spark.range(16000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(16, col("k") % 16) // one residue class per file
    Txn.commitOverwrite(spark, root, df, statsCol = Some("k"),
      bloomCols = Seq("k"))
    val files = Txn.snapshotFiles(spark, root, 1)
    assert(files.size >= 12, s"fixture not fragmented: ${files.size}")
    val e = Txn.snapshotEntries(spark, root, 1)
    assert(e.forall(_.bloomFor("k").isDefined), "bloom missing from manifest")
    // 3 scattered keys live in ≤3 files; bloom fpp adds at most noise
    Txn.commitDelete(spark, root,
      Seq(5L, 1000L, 12345L).toDF("k"), "k",
      statsCol = Some("k"), bloomCols = Seq("k"))
    val raw = Txn.rawManifestLines0(spark, root, 2)
    val rms = raw.count(_.startsWith("#rm:"))
    assert(rms <= 4, s"bloom did not prune the point-key delete: $rms " +
      s"of ${files.size} files rewritten")
    assert(rms >= 1, "delete touched nothing")
    val got = Txn.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(got == (0L until 16000L).toSet -- Set(5L, 1000L, 12345L))
    // rewritten survivors re-record blooms, so the NEXT point delete
    // still prunes
    assert(Txn.snapshotEntries(spark, root, 2)
      .forall(_.bloomFor("k").isDefined), "restage dropped blooms")
    // a key present in NO file (all-zero probe paths included) is a
    // clean no-op commit — nothing restaged
    Txn.commitDelete(spark, root, Seq(999999L).toDF("k"), "k",
      statsCol = Some("k"), bloomCols = Seq("k"))
    assert(Txn.rawManifestLines0(spark, root, 3)
      .count(_.startsWith("#rm:")) == 0, "absent key rewrote files")
  }

  test("race soak: concurrent merges and deletes on overlapping keys — serializable or loudly refused") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      spark.range(1000).select(col("id").as("k"), lit(0L).as("v"))
        .repartitionByRange(10, col("k")), statsCol = Some("k"))
    // 8 ops with DELIBERATELY overlapping key windows: merges stamp a
    // unique marker, deletes remove a window. Every op must either
    // LAND (return a version) or THROW ConcurrentWriteException —
    // silence (landing while losing its effect) is the lost-update
    // anomaly this pins down.
    val ops: Seq[(String, Seq[Long], Long)] = (0 until 8).map { i =>
      val keys = (i * 110L) until (i * 110L + 160L) // overlaps neighbors
      if (i % 2 == 0) ("merge", keys, 2000L + i) else ("delete", keys, 0L)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val results = Await.result(Future.sequence(ops.map { case (kind, keys, marker) =>
        Future {
          try {
            val v = kind match {
              case "merge" => Txn.commitMerge(spark, root,
                keys.toDF("k").withColumn("v", lit(marker)), "k",
                statsCol = Some("k"), maxRetries = 64)
              case _ => Txn.commitDelete(spark, root, keys.toDF("k"), "k",
                statsCol = Some("k"), maxRetries = 64)
            }
            Right((v, kind, keys, marker))
          } catch {
            case e: Txn.ConcurrentWriteException => Left(e)
          } // anything else propagates and fails the spec
        }
      }), 4.minutes)
      val landed = results.collect { case Right(r) => r }.sortBy(_._1)
      // versions are unique — the claim lock holds under merge/delete
      assert(landed.map(_._1).distinct.size == landed.size,
        s"two row-level commits claimed one version: ${landed.map(_._1)}")
      // SERIALIZABILITY: the table equals the landed ops replayed in
      // version order over the base — nothing applied out of order,
      // no landed op lost, no refused op half-applied
      val state = scala.collection.mutable.Map[Long, Long](
        (0L until 1000L).map(_ -> 0L): _*)
      landed.foreach {
        case (_, "merge", keys, marker) => keys.foreach(state(_) = marker)
        case (_, _, keys, _) => keys.foreach(state.remove)
      }
      val got = Txn.read(spark, root).select("k", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == state.toMap,
        s"state diverged from version-order replay: ${
          (got.toSet diff state.toSet).take(5)} / ${
          (state.toSet diff got.toSet).take(5)}")
      // the storm made progress: at least the first writer landed
      assert(landed.nonEmpty)
    } finally pool.shutdown()
  }

  test("optimize: one verb folds a messy history to clean layout, bounded log, zero orphans") {
    val root = freshRoot()
    // messy history: a fragmented base, 8 fragment appends, a crashed
    // committer's orphan batch + temp manifest
    Txn.commitOverwrite(spark, root,
      spark.range(0, 400).select(col("id").as("k"), (col("id") % 3).as("p"))
        .repartition(6), partitionBy = Seq("p"), statsCol = Some("k"))
    (1 to 8).foreach { i =>
      Txn.commitAppend(spark, root,
        spark.range(400L + i * 10, 410L + i * 10)
          .select(col("id").as("k"), (col("id") % 3).as("p")),
        partitionBy = Seq("p"), statsCol = Some("k"))
    }
    val f = fs(root)
    spark.range(5).select(col("id").as("k"), lit(0L).as("p"))
      .write.parquet(s"$root/data/b-orphan") // crashed stage, never published
    val os = f.create(new Path(s"$root/_manifests/.tmp-crashed"), false)
    os.write("junk\n".getBytes("UTF-8")); os.close()
    val expect = Txn.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet

    val report = Txn.optimize(spark, root, partitionBy = Seq("p"),
      statsCol = Some("k"), keepLast = 3, retentionMs = 0)
    // layout: one file per partition value
    val head = Txn.snapshotFiles(spark, root, report.version)
    assert(head.size == 3, s"not folded to one file per partition: $head")
    // log bounded to the window; tail gone
    val versions = f.listStatus(new Path(s"$root/_manifests"))
      .map(_.getPath.getName).filter(_.endsWith(".manifest"))
    assert(versions.length == 3, s"log not bounded: ${versions.toSeq.sorted}")
    assert(report.expired.nonEmpty)
    // zero orphans: the crashed batch's data files, the temp manifest,
    // and the pre-fold fragments are all gone; live files all
    // referenced (the emptied b-orphan DIR falls on the next vacuum —
    // its mtime was refreshed by this sweep's own deletions)
    assert(f.listStatus(new Path(s"$root/data/b-orphan"))
      .forall(_.getPath.getName.startsWith("_")), "orphan data survived")
    assert(!f.exists(new Path(s"$root/_manifests/.tmp-crashed")))
    assert(report.filesRemoved > 0)
    val onDisk = {
      val it = f.listFiles(new Path(s"$root/data"), true)
      val base = new Path(s"$root/data").toUri.getPath
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (st.isFile && !n.startsWith("_") && !n.startsWith("."))
          out += st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
      }
      out.toSet
    }
    // everything on disk is referenced by a SURVIVING manifest
    val surviving = (report.version - 2 to report.version)
      .flatMap(v => Txn.snapshotFiles(spark, root, v)).toSet
    assert(onDisk.subsetOf(surviving), s"orphans: ${onDisk -- surviving}")
    // the data is exactly what it was before maintenance
    assert(Txn.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == expect)
    // zorder path: same verb, clustered layout, result invariant
    val r2 = Txn.optimize(spark, root, numFiles = 2,
      zorderBy = Some(("k", "p")), keepLast = 2, retentionMs = 0)
    assert(Txn.read(spark, root, Some(r2.version)).select("k").collect()
      .map(_.getLong(0)).toSet == expect)
    assert(!f.exists(new Path(s"$root/data/b-orphan")),
      "emptied orphan batch dir not reclaimed by the following vacuum")
  }

  test("readKeys: point lookup opens only bloom candidates; exact across overlap; safe fallback") {
    val root = freshRoot()
    val df = spark.range(16000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(16, col("k") % 16) // every range spans the domain
    Txn.commitOverwrite(spark, root, df, statsCol = Some("k"),
      bloomCols = Seq("k"))
    val keys = Seq(5L, 1000L, 12345L).toDF("k")
    val cand = Txn.filesForKeys(spark, root, keys, "k")
    assert(cand.size <= 4 && cand.nonEmpty,
      s"point lookup not bloom-pruned: ${cand.size} of 16 files")
    val got = Txn.readKeys(spark, root, keys, "k")
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(got == Set(5L -> 5L, 1000L -> (1000L % 7), 12345L -> (12345L % 7)))
    // absent key: zero candidates, empty typed frame with the schema
    val none = Txn.readKeys(spark, root, Seq(999999L).toDF("k"), "k")
    assert(none.count() == 0 && none.columns.toSet == Set("k", "v"))
    // a key the stats surface cannot reason about (cast-null) falls
    // back to ALL files — pruning never becomes a filter (file count
    // compared to the actual layout: range sampling occasionally
    // merges two residue classes into one file)
    val mixed = Seq("5", "oops").toDF("k")
    assert(Txn.filesForKeys(spark, root, mixed, "k").size ==
      Txn.snapshotFiles(spark, root, 1).size)
  }

  test("bloom primitive: zero false negatives, bounded false positives") {
    import graft.functions.Bloom
    val buf = new Array[Byte](8192 / 8)
    (0 until 1000).foreach(i => Bloom.add(buf, i.toDouble, 7))
    assert((0 until 1000).forall(i => Bloom.mightContain(buf, i.toDouble, 7)),
      "false negative — the prune would silently drop live rows")
    // m/n = 8.2 bits/key, k=7 → ~2% fpp; 5x headroom against flake
    val fp = (100000 until 110000).count(i =>
      Bloom.mightContain(buf, i.toDouble, 7))
    assert(fp < 1000, s"false-positive rate degenerate: $fp / 10000")
  }

  test("stats: NULL counts follow the CAST semantics the prunes evaluate") {
    val root = freshRoot()
    // NUMERIC column holding real NULLs: nulls ride the same cast
    // surface every prune evaluates, so the metadata-only whole-file
    // drop (which demands nulls == 0) cannot delete the NULL row the
    // row-level filter keeps (r13 advice)
    val num = Seq(Some(1d), Some(2d), None)
      .zip(Seq("a", "b", "keep"))
      .toDF("x", "tag").coalesce(1)
    Txn.commitOverwrite(spark, root, num, statsCol = Some("x"))
    val e = Txn.snapshotEntries(spark, root, 1)
    assert(e.head.nullsFor("x").contains(1L),
      s"null row not counted: ${e.head}")
    Txn.commitDeleteWhere(spark, root, "x", 1d, 2d)
    val got = Txn.read(spark, root).select("tag").collect()
      .map(_.getString(0)).toSet
    assert(got == Set("keep"), s"null row deleted by metadata: $got")

    // STRING column (r15): takes the string-stats path, so the r13
    // hazard's original shape — non-numeric strings cast-NULL under a
    // NUMERIC range — is structurally gone: no numeric range is
    // recorded at all, the file can never be metadata-dropped, and
    // the cast-null row survives via the row-level filter
    val root2 = freshRoot()
    val str = Seq(("1", "a"), ("2", "b"), ("oops", "keep"))
      .toDF("x", "tag").coalesce(1)
    Txn.commitOverwrite(spark, root2, str, statsCol = Some("x"))
    val e2 = Txn.snapshotEntries(spark, root2, 1)
    assert(e2.head.strStatsFor("x").isDefined &&
      e2.head.namedStats("x").isEmpty,
      s"string stats column recorded a numeric range: ${e2.head}")
    Txn.commitDeleteWhere(spark, root2, "x", 1d, 2d)
    val got2 = Txn.read(spark, root2).select("tag").collect()
      .map(_.getString(0)).toSet
    assert(got2 == Set("keep"), s"cast-null row deleted: $got2")
  }

  // ---- string-key stats (r15): raw-UTF8 blooms + string min/max ----

  test("string keys: interleaved layout prunes point reads AND deletes via the raw-byte bloom") {
    val root = freshRoot()
    // "u-<id>" casts to NULL as double — under r14's double-only
    // stats this table recorded nothing usable and a point delete
    // silently no-op'd (r14 advice). Interleave on id % 16 so every
    // file's STRING [min,max] also spans ~the whole uid domain: the
    // bfs bloom is the only metadata that can narrow anything.
    val df = spark.range(16000)
      .select(concat(lit("u-"), col("id").cast("string")).as("k"),
        (col("id") % 7).as("v"), col("id").as("id0"))
      .repartitionByRange(16, col("id0") % 16)
      .drop("id0")
    Txn.commitOverwrite(spark, root, df, statsCol = Some("k"),
      bloomCols = Seq("k"))
    val e = Txn.snapshotEntries(spark, root, 1)
    assert(e.forall(_.strBloomFor("k").isDefined),
      s"string bloom missing from manifest: ${e.head}")
    assert(e.forall(_.strStatsFor("k").isDefined),
      s"string range missing from manifest: ${e.head}")
    assert(e.forall(en => en.bloomFor("k").isEmpty &&
      en.namedStats("k").isEmpty),
      "string column must not also record double-cast stats")
    val files = Txn.snapshotFiles(spark, root, 1)
    assert(files.size >= 12, s"fixture not fragmented: ${files.size}")
    // point READ: 3 scattered uids live in ≤3 files + bloom fpp noise
    val keys = Seq("u-5", "u-1000", "u-12345").toDF("k")
    val cand = Txn.filesForKeys(spark, root, keys, "k")
    assert(cand.size <= 4 && cand.nonEmpty,
      s"string point lookup not bloom-pruned: ${cand.size} of " +
        s"${files.size}")
    val got = Txn.readKeys(spark, root, keys, "k")
      .select("k", "v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(got == Set("u-5" -> 5L, "u-1000" -> (1000L % 7),
      "u-12345" -> (12345L % 7)))
    // point DELETE: prunes to the candidates AND actually removes the
    // rows (the r14 silent-no-op regression)
    Txn.commitDelete(spark, root, keys, "k",
      statsCol = Some("k"), bloomCols = Seq("k"))
    val rms = Txn.rawManifestLines0(spark, root, 2)
      .count(_.startsWith("#rm:"))
    assert(rms <= 4 && rms >= 1,
      s"string point delete not bloom-pruned: $rms of ${files.size}")
    assert(Txn.read(spark, root).where(
      col("k").isin("u-5", "u-1000", "u-12345")).count() == 0,
      "string-keyed delete silently kept rows (r14 advice bug)")
    assert(Txn.read(spark, root).count() == 16000 - 3)
  }

  test("string keys: legacy all-zero DOUBLE bloom on a string column stays blind (no silent no-op)") {
    val root = freshRoot()
    val df = spark.range(100)
      .select(concat(lit("u-"), col("id").cast("string")).as("k"),
        (col("id") % 7).as("v"))
      .coalesce(2)
    Txn.commitOverwrite(spark, root, df)
    // doctor the manifest into the r14 shape: an all-zero NUMERIC
    // bloom recorded for the string column (what r14 staging wrote
    // when every value cast NULL)
    val zero = java.util.Base64.getEncoder
      .encodeToString(new Array[Byte](8192))
    val p = new Path(s"$root/_manifests/v00001.manifest")
    val f = fs(root)
    val in = f.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList finally in.close()
    val doctored = lines.map(l =>
      if (l.startsWith("#")) l else s"$l\tk:bf:7:$zero")
    f.delete(p, false)
    val os = f.create(p, false)
    try os.write((doctored.mkString("\n") + "\n").getBytes("UTF-8"))
    finally os.close()
    assert(Txn.snapshotEntries(spark, root, 1)
      .forall(_.bloomFor("k").isDefined), "doctoring failed")
    // cast-null string keys cannot be excluded by a numeric bloom —
    // every informed file must stay a candidate...
    val keys = Seq("u-5", "u-50").toDF("k")
    assert(Txn.filesForKeys(spark, root, keys, "k").size ==
      Txn.snapshotFiles(spark, root, 1).size,
      "numeric bloom excluded cast-null string keys")
    // ...and the delete must actually delete
    Txn.commitDelete(spark, root, keys, "k")
    assert(Txn.read(spark, root).count() == 98,
      "legacy manifest shape made the delete a silent no-op")
  }

  test("string stats: a SORTED string layout prunes by range alone; long bounds are skipped") {
    val root = freshRoot()
    // zero-padded uids sort lexically == numerically, so a range-
    // partitioned layout gives each file a narrow string [min,max]
    val df = spark.range(8000)
      .select(concat(lit("u-"), lpad(col("id").cast("string"), 6, "0"))
        .as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(8, col("k"))
    Txn.commitOverwrite(spark, root, df, statsCol = Some("k"))
    val files = Txn.snapshotFiles(spark, root, 1)
    val cand = Txn.filesForKeys(spark, root,
      Seq("u-000005", "u-007999").toDF("k"), "k")
    assert(cand.size <= 2 && cand.nonEmpty,
      s"string range did not prune a sorted layout: ${cand.size} of " +
        s"${files.size}")
    // bounds past 256 UTF-8 bytes: no range recorded (the manifest
    // must not bloat per-file), pruning falls back to blind
    val root2 = freshRoot()
    val long = Seq(("x" * 300, 1L), ("y" * 300, 2L)).toDF("k", "v")
      .coalesce(1)
    Txn.commitOverwrite(spark, root2, long, statsCol = Some("k"))
    val e2 = Txn.snapshotEntries(spark, root2, 1)
    assert(e2.head.strStatsFor("k").isEmpty,
      s"oversized string bound recorded: ${e2.head}")
    assert(Txn.readKeys(spark, root2, Seq("x" * 300).toDF("k"), "k")
      .count() == 1)
  }

  // ---- r15 schema evolution: type widening --------------------------

  test("type widening: int->long, float->double, decimal growth evolve; old files read up; time travel keeps original types") {
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val v1 = spark.range(3).selectExpr("cast(id as int) as k",
      "cast(id as float) as x", "cast(id as decimal(5,2)) as m")
    Txn.commitOverwrite(spark, root, v1)
    // a WIDER batch evolves the committed schema under mergeSchema
    val v2 = spark.range(3, 6).selectExpr("cast(id as long) as k",
      "cast(id as double) as x", "cast(id as decimal(12,4)) as m")
    Txn.commitAppend(spark, root, v2, mergeSchema = true)
    val head = Txn.read(spark, root)
    assert(head.schema("k").dataType == LongType &&
      head.schema("x").dataType == DoubleType &&
      head.schema("m").dataType == DecimalType(12, 4),
      s"schema not widened: ${head.schema.simpleString}")
    // v1's NARROW files read up into the widened snapshot
    assert(head.select("k").collect().map(_.getLong(0)).toSet ==
      (0L until 6L).toSet)
    assert(head.select(sum("m")).head().getDecimal(0)
      .compareTo(new java.math.BigDecimal("15.0")) == 0)
    // time travel returns v1's ORIGINAL types
    val old = Txn.read(spark, root, Some(1))
    assert(old.schema("k").dataType == IntegerType &&
      old.schema("x").dataType == FloatType &&
      old.schema("m").dataType == DecimalType(5, 2),
      s"time travel lost original types: ${old.schema.simpleString}")
    // a NARROWER later batch is accepted as data (reads up), and the
    // committed schema stays wide — no flip-flop
    Txn.commitAppend(spark, root,
      spark.range(6, 8).selectExpr("cast(id as int) as k",
        "cast(id as float) as x", "cast(id as decimal(5,2)) as m"),
      mergeSchema = true)
    val head3 = Txn.read(spark, root)
    assert(head3.schema("k").dataType == LongType, "schema flip-flopped")
    assert(head3.count() == 8)
    // CDF across the widening commits carries the until-schema
    val cdf = Txn.readChangesCdf(spark, root, 0)
    assert(cdf.schema("k").dataType == LongType)
    assert(cdf.where(col("_change_type") === "insert").count() == 8)
    // row-level delete across mixed-width files
    Txn.commitDelete(spark, root, Seq(1L, 7L).toDF("k"), "k")
    assert(Txn.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == Set(0L, 2L, 3L, 4L, 5L, 6L))
  }

  test("type widening: incompatible retypes reject loudly; strict mode still rejects widening") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      spark.range(3).selectExpr("cast(id as int) as k",
        "cast(id as string) as s"))
    // incompatible retype under mergeSchema: loud reject
    val e1 = intercept[RuntimeException] {
      Txn.commitAppend(spark, root,
        spark.range(3).selectExpr("cast(id as int) as k", "id as s"),
        mergeSchema = true)
    }
    assert(e1.getMessage.contains("incompatible type change"),
      e1.getMessage)
    // widen k to long, then append a NARROWER (int) batch: accepted
    // as data (its files read up), and the committed schema must stay
    // long — never narrow, never flip-flop
    Txn.commitAppend(spark, root,
      spark.range(3, 5).selectExpr("id as k", "cast(id as string) as s"),
      mergeSchema = true)
    Txn.commitAppend(spark, root,
      spark.range(5, 6).selectExpr("cast(id as int) as k",
        "cast(id as string) as s"),
      mergeSchema = true)
    assert(Txn.read(spark, root).schema("k").dataType ==
      org.apache.spark.sql.types.LongType,
      "committed schema narrowed or flip-flopped")
    assert(Txn.read(spark, root).count() == 6)
    // strict mode: ANY drift — including a widening — throws
    val e3 = intercept[IllegalArgumentException] {
      Txn.commitAppend(spark, root,
        spark.range(6, 7).selectExpr("cast(id as decimal(20,0)) as k",
          "cast(id as string) as s"))
    }
    assert(e3.getMessage.contains("schema drift"), e3.getMessage)
  }

  test("compactWhere: folds ONLY the named partitions; others carry byte-verbatim; conflicts abort") {
    val root = freshRoot()
    def batch(lo: Long) = spark.range(lo, lo + 60)
      .select(col("id").as("k"),
        (col("id") % 3).cast("string").as("p"))
      .repartition(4)
    Txn.commitOverwrite(spark, root, batch(0), Seq("p"),
      statsCol = Some("k"))
    (1 to 3).foreach(i => Txn.commitAppend(spark, root, batch(i * 100L),
      Seq("p"), statsCol = Some("k")))
    val before = Txn.snapshotLines0(spark, root, 4).filterNot(_.startsWith("#"))
    val hotBefore = before.filter(_.split('/').contains("p=1"))
    val coldBefore = before.filterNot(_.split('/').contains("p=1"))
    assert(hotBefore.size >= 4, s"fixture not fragmented: $hotBefore")
    val expect = Txn.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet
    val v = Txn.compactWhere(spark, root, "p", Seq("1"),
      statsCol = Some("k"))
    assert(v == 5)
    val after = Txn.snapshotLines0(spark, root, 5).filterNot(_.startsWith("#"))
    val hotAfter = after.filter(_.split('/').contains("p=1"))
    assert(hotAfter.size == 1,
      s"hot partition not folded: ${hotAfter.size} files")
    assert(after.filterNot(_.split('/').contains("p=1")) == coldBefore,
      "untouched partitions' manifest lines must carry BYTE-verbatim")
    assert(Txn.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == expect, "fold changed the data")
    // stats re-recorded on the folded file → skip-scan still prunes
    assert(Txn.snapshotEntries(spark, root, 5)
      .filter(_.path.split('/').contains("p=1"))
      .forall(_.namedStats("k").isDefined), "folded file lost stats")
    // absent partition value: no-op WITHOUT a new commit
    assert(Txn.compactWhere(spark, root, "p", Seq("zzz")) == 5)
    // numFiles sizes WITHIN the rewritten partition (round-robin tasks
    // × partitionBy split — hashing on the partition column would fold
    // a hot partition to ONE file regardless, r15 review)
    val v2 = Txn.compactWhere(spark, root, "p", Seq("0"), numFiles = 2,
      statsCol = Some("k"))
    assert(Txn.snapshotFiles(spark, root, v2)
      .count(_.split('/').contains("p=0")) == 2,
      "numFiles did not size the rewritten partition")
    // a racing commit mid-rewrite aborts loudly (lost-update guard)
    Txn.raceOnce.set(Some(() => {
      Txn.commitAppend(spark, root,
        Seq((9999L, "1")).toDF("k", "p"), Seq("p"), statsCol = Some("k"))
    }))
    intercept[Txn.ConcurrentWriteException] {
      Txn.compactWhere(spark, root, "p", Seq("1"), statsCol = Some("k"))
    }
    // the racer's row survived (nothing clobbered); rerun succeeds
    assert(Txn.read(spark, root).where(col("k") === 9999).count() == 1)
    Txn.compactWhere(spark, root, "p", Seq("1"), statsCol = Some("k"))
    assert(Txn.read(spark, root).where(col("k") === 9999).count() == 1)
  }

  test("re-rooted layout: partition predicates prune at planning (PartitionFilters, not a full scan)") {
    val root = freshRoot()
    (0 to 3).foreach { i =>
      Txn.commitAppend(spark, root,
        spark.range(i * 10L, i * 10L + 10)
          .select(col("id").as("k"), (col("id") % 4).cast("string").as("p")),
        Seq("p"), statsCol = Some("k"))
    }
    val pruned = Txn.read(spark, root).where(col("p") === "1")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.linesIterator.exists(l => l.contains("PartitionFilters") &&
        l.contains("p")),
      s"partition predicate not pushed to partition pruning:\n$plan")
    assert(pruned.count() == 10)
  }

  test("vacuum reclaims a crashed .stage dir past retention") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      Seq((1L, "a")).toDF("k", "p"), Seq("p"))
    // simulate a committer that crashed AFTER the partitioned write
    // but BEFORE any rename: the stage dir holds real part files
    Seq((9L, "z")).toDF("k", "p").write.partitionBy("p")
      .parquet(s"$root/data/.stage-b00099-deadbeef")
    val f = fs(root)
    val before = Txn.read(spark, root).count()
    assert(Txn.vacuum(spark, root) == 0, "retention must spare young orphans")
    val removed = Txn.vacuum(spark, root, olderThanMs = 0L)
    assert(removed >= 1, "crashed stage files not reclaimed")
    assert(!f.exists(new Path(s"$root/data/.stage-b00099-deadbeef")),
      "crashed stage dir not removed")
    assert(Txn.read(spark, root).count() == before)
  }

  test("compactWhere: escaped partition values match the writer's path encoding") {
    val root = freshRoot()
    // 'a:b' needs path escaping (Spark writes p=a%3Ab)
    Txn.commitOverwrite(spark, root,
      Seq((1L, "a:b"), (2L, "a:b"), (3L, "plain")).toDF("k", "p")
        .repartition(3), Seq("p"))
    Txn.commitAppend(spark, root,
      Seq((4L, "a:b")).toDF("k", "p"), Seq("p"))
    val v = Txn.compactWhere(spark, root, "p", Seq("a:b"))
    val hot = Txn.snapshotFiles(spark, root, v)
      .filter(_.split('/').exists(_.startsWith("p=a")))
    assert(hot.size == 1, s"escaped partition not folded: $hot")
    assert(Txn.read(spark, root).where(col("p") === "a:b")
      .select("k").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
  }

  // ---- r15 re-rooted partition layout: single-relation snapshots ----

  test("partitioned snapshots read as ONE scan relation regardless of commit count") {
    val root = freshRoot()
    def batch(i: Int) = spark.range(i * 100L, i * 100L + 100)
      .select(col("id").as("k"), (col("id") % 3).cast("string").as("p"))
      .coalesce(1)
    Txn.commitOverwrite(spark, root, batch(0), Seq("p"),
      statsCol = Some("k"))
    (1 to 12).foreach(i =>
      Txn.commitAppend(spark, root, batch(i), Seq("p"),
        statsCol = Some("k")))
    // files live under data/p=<v>/b<ver>-… — partition dir OUTSIDE
    // the batch segment, attempt-unique via the batch-tag prefix
    val files = Txn.snapshotFiles(spark, root, 13)
    assert(files.forall(_.matches("p=[0-9]/b\\d{5}-[0-9a-f]{8}-.*\\.parquet")),
      s"unexpected layout: ${files.take(3)}")
    val df = Txn.read(spark, root)
    assert(df.queryExecution.optimizedPlan.collectLeaves().size == 1,
      "13-commit partitioned snapshot did not read as one relation")
    assert(df.count() == 1300)
    // partition column survives with correct values (basePath = data;
    // discovery infers the narrowest type, so compare as string —
    // the same inference the per-batch legacy path applied)
    assert(df.groupBy(col("p").cast("string").as("p")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("0" -> 434, "1" -> 433, "2" -> 433))
    // time travel still exact
    assert(Txn.read(spark, root, Some(1)).count() == 100)
    // point-key pruning works against the re-rooted layout
    val cand = Txn.filesForKeys(spark, root, Seq(5L).toDF("k"), "k")
    assert(cand.size < files.size, "range stats lost in re-rooted layout")
  }

  test("mixed legacy + re-rooted + flat layouts union correctly in one snapshot") {
    val root = freshRoot()
    // legacy batch: partition dirs nested INSIDE the batch dir (pre-r15
    // staging) — injected exactly as a pre-upgrade table would hold it
    Seq((1L, "a"), (2L, "b")).toDF("k", "p")
      .write.partitionBy("p").parquet(s"$root/data/b00001-0ld0ld00")
    val f = fs(root)
    val legacy = {
      val it = f.listFiles(new Path(s"$root/data/b00001-0ld0ld00"), true)
      val base = new Path(s"$root/data").toUri.getPath
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          out += st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
      }
      out.toSeq.sorted
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.StringType)))
    f.mkdirs(new Path(s"$root/_manifests"))
    val os = f.create(new Path(s"$root/_manifests/v00001.manifest"), false)
    os.write((s"#schema:${schema.json}\n" + legacy.mkString("\n") + "\n")
      .getBytes("UTF-8")); os.close()
    // re-rooted partitioned append + a flat (unpartitioned) append
    Txn.commitAppend(spark, root, Seq((3L, "c")).toDF("k", "p"), Seq("p"))
    Txn.commitAppend(spark, root, Seq((4L, "d")).toDF("k", "p"))
    val got = Txn.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(got == Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"),
      s"mixed-layout snapshot wrong: $got")
    // and CDF over the mixed history stays exact
    val delta = Txn.readChangesCdf(spark, root, 1).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(delta == Set(3L, 4L))
  }

  test("compactZOrder on a STRING x NUMERIC pair: both axes prune after the rewrite") {
    val root = freshRoot()
    // interleave both axes so the pre-zorder layout prunes NOTHING:
    // day strings and values scattered across every file
    val df = spark.range(16000).select(
      concat(lit("2024-01-"),
        lpad(((col("id") % 30) + 1).cast("string"), 2, "0")).as("day"),
      (col("id") % 997).cast("double").as("v"),
      col("id").as("k"))
      .repartitionByRange(16, col("id") % 16)
      .drop("k")
    Txn.commitOverwrite(spark, root, df, statsCols = Seq("day", "v"))
    val before = Txn.filesForStrRange(spark, root, "day",
      "2024-01-10", "2024-01-12")
    assert(before.size == Txn.snapshotFiles(spark, root, 1).size,
      "fixture must start unprunable")
    Txn.compactZOrder(spark, root, "day", "v", numFiles = 16)
    val all = Txn.snapshotFiles(spark, root, 2)
    assert(all.size >= 12, s"zorder produced too few files: ${all.size}")
    // day slice (string axis) opens a strict subset
    val dayCand = Txn.filesForStrRange(spark, root, "day",
      "2024-01-10", "2024-01-12")
    assert(dayCand.size < all.size && dayCand.nonEmpty,
      s"string axis not clustered: ${dayCand.size} of ${all.size}")
    // value slice (numeric axis) opens a strict subset
    val vCand = Txn.filesForPreds(spark, root, Seq(("v", 0d, 100d)))
    assert(vCand.size < all.size && vCand.nonEmpty,
      s"numeric axis not clustered: ${vCand.size} of ${all.size}")
    // and the slices stay exact: day d holds the id % 30 == d-1 rows;
    // 16000 = 30*533 + 10, so residue 9 (day 10) has 534 rows and
    // residues 10,11 (days 11,12) have 533 each
    assert(Txn.readWhereStr(spark, root, "day",
      "2024-01-10", "2024-01-12").count() == 534 + 533 + 533)
  }

  test("readWhereStr: string-range slice opens only overlapping files; stats-less files survive") {
    val root = freshRoot()
    // day-keyed layout: range partitioning gives each file a narrow
    // string [min,max] in UTF8 order
    val df = spark.range(3000).select(
      concat(lit("2024-01-"), lpad(((col("id") % 30) + 1).cast("string"),
        2, "0")).as("day"),
      col("id").as("k"))
      .repartitionByRange(10, col("day"))
    Txn.commitOverwrite(spark, root, df, statsCol = Some("day"))
    val all = Txn.snapshotFiles(spark, root, 1)
    val cand = Txn.filesForStrRange(spark, root, "day",
      "2024-01-10", "2024-01-12")
    assert(cand.size < all.size && cand.nonEmpty,
      s"string range did not prune: ${cand.size} of ${all.size}")
    val got = Txn.readWhereStr(spark, root, "day",
      "2024-01-10", "2024-01-12")
    assert(got.count() == 300, s"slice wrong: ${got.count()}")
    assert(got.select(min("day"), max("day")).head().toSeq ==
      Seq("2024-01-10", "2024-01-12"))
    // an out-of-domain slice opens nothing and returns a typed empty
    val none = Txn.readWhereStr(spark, root, "day", "2025-", "2025-z")
    assert(none.count() == 0 && none.columns.toSet == Set("day", "k"))
    // a stats-less append stays a candidate: skipping never filters
    Txn.commitAppend(spark, root,
      Seq(("2024-01-11", 999999L)).toDF("day", "k"))
    assert(Txn.readWhereStr(spark, root, "day",
      "2024-01-10", "2024-01-12").count() == 301)
  }

  test("parquet checkpoint: blooms survive the roll distributed; text twin strips them") {
    val root = freshRoot()
    // interleaved layout (id % 4 per file) so every v1 file's [min,max]
    // spans the whole domain — the bloom is the ONLY thing that prunes
    Txn.commitOverwrite(spark, root,
      spark.range(400).select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(4, col("id") % 4),
      statsCol = Some("k"), bloomCols = Seq("k"))
    (1 to Txn.checkpointEvery + 2).foreach { i =>
      Txn.commitAppend(spark, root,
        spark.range(1000L * i, 1000L * i + 50).coalesce(1)
          .select(col("id").as("k"), (col("id") % 7).as("v")),
        statsCol = Some("k"), bloomCols = Seq("k"))
    }
    val f = fs(root)
    val names = f.listStatus(new Path(s"$root/_manifests"))
      .map(_.getPath.getName)
    val cpqs = names.filter(_.matches("c\\d+\\.cpq"))
    assert(cpqs.nonEmpty, "no parquet checkpoint rolled")
    val cpv = cpqs.map(_.stripPrefix("c").stripSuffix(".cpq").toInt).min
    // the text twin at the same version carries NO bloom bytes (the
    // r16 driver-residency bound: 8 KiB/file/column stays in parquet)
    val tcPath = new Path(f"$root/_manifests/c$cpv%05d.checkpoint")
    assert(f.exists(tcPath), "text checkpoint missing beside the parquet one")
    val text = {
      val in = f.open(tcPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(!text.contains(":bf"), "text checkpoint still carries bloom bytes")
    // pre-checkpoint files' blooms now live ONLY in the cpq — the
    // point prune must still open ~1 of v1's 4 interleaved files
    val total = Txn.snapshotFiles(spark, root,
      Txn.currentVersion(spark, root)).size
    val cand = Txn.filesForKeys(spark, root, Seq(7L).toDF("k"), "k")
    assert(cand.size <= 2,
      s"bloom did not prune through the parquet checkpoint: " +
        s"${cand.size} of $total")
    assert(Txn.readKeys(spark, root, Seq(7L).toDF("k"), "k").count() == 1)
    // advisory, never semantic: with the cpq gone the prune degrades
    // to range-only (all 4 interleaved v1 files candidates) but the
    // read stays exact
    cpqs.foreach(n => f.delete(new Path(s"$root/_manifests/$n"), true))
    val cand2 = Txn.filesForKeys(spark, root, Seq(7L).toDF("k"), "k")
    assert(cand2.size >= 4 && cand2.toSet.subsetOf(
      Txn.snapshotFiles(spark, root,
        Txn.currentVersion(spark, root)).toSet),
      s"conservative fallback wrong: ${cand2.size}")
    assert(Txn.readKeys(spark, root, Seq(7L).toDF("k"), "k").count() == 1)
  }

  test("deletion vectors: zero rewrites, masked reads, CDF net, compact materializes") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      spark.range(1000).select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(8, col("id")),
      statsCol = Some("k"), bloomCols = Seq("k"))
    val filesBefore = Txn.snapshotFiles(spark, root, 1).toSet
    val forget = spark.range(1000).where(col("id") % 10 === 3)
      .select(col("id").as("k"))
    Txn.commitDeleteDv(spark, root, forget, "k")                     // v2
    // the commit is metadata + sidecar only: every v1 data file is
    // REFERENCED VERBATIM by v2 (zero rewrites), and the only new
    // bytes under data/ are the dv sidecar
    assert(Txn.snapshotFiles(spark, root, 2).toSet == filesBefore,
      "DV delete rewrote data files")
    val f = fs(root)
    val newFiles = {
      val it = f.listFiles(new Path(s"$root/data"), true)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toUri.getPath
          .stripPrefix(new Path(s"$root/data").toUri.getPath)
          .stripPrefix("/")
        if (st.isFile && !st.getPath.getName.startsWith("_") &&
            !filesBefore.contains(rel)) out += rel
      }
      out.toSeq
    }
    assert(newFiles.nonEmpty && newFiles.forall(_.contains("-dv/")),
      s"unexpected non-sidecar files staged: $newFiles")
    // masked reads: head = complement; time travel = full
    val headKs = Txn.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(headKs == (0L until 1000L).filterNot(_ % 10 == 3).toSet)
    assert(Txn.read(spark, root, Some(1)).count() == 1000)
    // point read + skip-scan go through the mask too
    assert(Txn.readKeys(spark, root, Seq(13L, 14L).toDF("k"), "k")
      .select("k").collect().map(_.getLong(0)).toSet == Set(14L))
    assert(Txn.readWhere(spark, root, "k", 10d, 19d).count() == 9)
    // CDF across the DV commit: multiset net = exactly the masked rows
    val cdf = Txn.readChangesCdf(spark, root, 1, Some(2)).cache()
    val del = cdf.where(col("_change_type") === "delete")
      .groupBy("k").count()
    val ins = cdf.where(col("_change_type") === "insert")
      .groupBy("k").count()
    val net = del.as("d").join(ins.as("i"), Seq("k"), "left_outer")
      .where(col("d.count") > coalesce(col("i.count"), lit(0L)))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(net == (0L until 1000L).filter(_ % 10 == 3).toSet,
      "CDF net of the DV commit is not the deleted rows")
    cdf.unpersist()
    // a SECOND dv delete stacks; a later merge must not resurrect
    Txn.commitDeleteDv(spark, root,
      Seq(14L).toDF("k"), "k")                                       // v3
    assert(!Txn.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet.exists(k => k == 14L || k % 10 == 3))
    Txn.commitMerge(spark, root,
      Seq((500L, 999L)).toDF("k", "v"), "k",
      statsCol = Some("k"), bloomCols = Seq("k"))                    // v4
    val afterMerge = Txn.read(spark, root).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(afterMerge(500L) == 999L && !afterMerge.contains(503L) &&
      !afterMerge.contains(14L), "merge resurrected DV-masked rows")
    // compact materializes the masks away: fresh lines carry no __dv
    Txn.compact(spark, root, numFiles = 2)                           // v5
    assert(!Txn.snapshotLines0(spark, root, 5).exists(_.contains("__dv")),
      "compact did not materialize the DVs")
    assert(Txn.read(spark, root).count() ==
      1000 - 100 - 1 + (if (afterMerge.contains(500L)) 0 else 1))
    // vacuum keeps the sidecar while v2/v3 survive (time travel), and
    // reclaims it once those manifests expire
    Txn.vacuum(spark, root, olderThanMs = 0)
    assert(Txn.read(spark, root, Some(3)).count() == 899)
    // keepLast=1: v4 (merge) still carries dv refs on its untouched
    // files, so only the fully-compacted v5 may survive for the
    // sidecar to become reclaimable
    Txn.expireManifests(spark, root, keepLast = 1)
    Txn.vacuum(spark, root, olderThanMs = 0)
    val leftover = {
      val it = f.listFiles(new Path(s"$root/data"), true)
      var dv = 0
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.toUri.getPath.contains("-dv/") &&
            !st.getPath.getName.startsWith("_")) dv += 1
      }
      dv
    }
    assert(leftover == 0, s"expired DV sidecar not reclaimed: $leftover")
  }

  test("column mapping: rename is metadata-only; prunes translate; drop cannot resurrect") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      spark.range(400).select(col("id").as("k"), (col("id") * 2).as("value"))
        .repartitionByRange(4, col("id")),
      statsCols = Seq("k", "value"), bloomCols = Seq("k"))           // v1
    val filesV1 = Txn.snapshotFiles(spark, root, 1).toSet
    Txn.renameColumn(spark, root, "value", "amount")                 // v2
    // metadata-only: identical file set, no new data files
    assert(Txn.snapshotFiles(spark, root, 2).toSet == filesV1,
      "rename touched data files")
    assert(Txn.read(spark, root).columns.toSeq == Seq("k", "amount"))
    assert(Txn.read(spark, root).where(col("amount") === 20).count() == 1)
    // time travel: v1 keeps its original name
    assert(Txn.read(spark, root, Some(1)).columns.toSeq ==
      Seq("k", "value"))
    // stats recorded pre-rename prune under the NEW logical name
    val cand = Txn.filesForPreds(spark, root, Seq(("amount", 0d, 100d)))
    assert(cand.size < filesV1.size && cand.nonEmpty,
      s"post-rename prune lost the old stats: ${cand.size}")
    assert(Txn.readWhere(spark, root, "amount", 0d, 100d).count() == 51)
    // appends under the new name mix eras transparently; point prune
    // (bloom under physical name) still serves both eras
    Txn.commitAppend(spark, root,
      spark.range(1000, 1400)
        .select(col("id").as("k"), (col("id") * 2).as("amount")),
      statsCols = Seq("k", "amount"), bloomCols = Seq("k"))          // v3
    assert(Txn.read(spark, root).count() == 800)
    assert(Txn.readKeys(spark, root, Seq(7L, 1007L).toDF("k"), "k")
      .count() == 2)
    // row-level delete across both eras under the new name
    Txn.commitDelete(spark, root,
      Seq(20L, 1020L).toDF("k"), "k", statsCols = Seq("k", "amount"),
      bloomCols = Seq("k"))                                          // v4
    assert(Txn.read(spark, root).count() == 798)
    // rename to an existing logical name throws; plain-name gate
    intercept[IllegalArgumentException](
      Txn.renameColumn(spark, root, "amount", "k"))
    // DROP hides the column without touching bytes; re-adding the
    // same logical name maps to a FRESH physical, so the old bytes
    // can never resurrect (old files read NULL for the new column)
    val filesV4 = Txn.snapshotFiles(spark, root, 4).toSet
    Txn.dropColumn(spark, root, "amount")                            // v5
    assert(Txn.snapshotFiles(spark, root, 5).toSet == filesV4)
    assert(Txn.read(spark, root).columns.toSeq == Seq("k"))
    Txn.commitAppend(spark, root,
      Seq((5000L, 123L)).toDF("k", "amount"), mergeSchema = true)    // v6
    val byK = Txn.read(spark, root).select("k", "amount").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(byK(5000L).contains(123L), "new column value lost")
    assert(byK(7L).isEmpty,
      "dropped column's bytes resurrected under a re-added name")
    // the collision path: drop a column stored under ITS OWN name,
    // re-add the same logical — it must map to a FRESH physical
    // (v6's bytes stay dead), the #physdrop retirement
    Txn.dropColumn(spark, root, "amount")                            // v7
    Txn.commitAppend(spark, root,
      Seq((6000L, 9L)).toDF("k", "amount"), mergeSchema = true)      // v8
    val byK2 = Txn.read(spark, root).select("k", "amount").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(byK2(6000L).contains(9L))
    assert(byK2(5000L).isEmpty, "retired physical name resurrected")
    // rename + DV interplay: sidecars key on the physical name, so a
    // delete before a rename still masks after it
    val root2 = freshRoot()
    Txn.commitOverwrite(spark, root2,
      spark.range(100).select(col("id").as("u"), (col("id") % 5).as("x")),
      statsCol = Some("u"))
    Txn.commitDeleteDv(spark, root2, Seq(42L).toDF("u"), "u")
    Txn.renameColumn(spark, root2, "u", "uid")
    assert(Txn.read(spark, root2).where(col("uid") === 42).count() == 0,
      "DV mask lost across a rename")
    assert(Txn.read(spark, root2).count() == 99)
    // dropping the DV key column is refused until a rewrite
    intercept[IllegalArgumentException](
      Txn.dropColumn(spark, root2, "uid"))
    Txn.compact(spark, root2, numFiles = 1)
    Txn.dropColumn(spark, root2, "uid")
    assert(Txn.read(spark, root2).columns.toSeq == Seq("x"))
  }

  test("conditional merge: first-match-wins clauses — delete, subset update, insert") {
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
        .toDF("k", "n", "tag"),
      statsCol = Some("k"))
    // slim changeset (no `tag` column): clause merges take a subset
    val cs = Seq((1L, 100L), (2L, 200L), (9L, 900L)).toDF("k", "n")
    Txn.commitMerge(spark, root, cs, "k", whenMatched = Seq(
      Txn.WhenMatched(condition = Some("t.k = 1"), delete = true),
      Txn.WhenMatched(condition = Some("s.n > t.n * 5"),
        set = Map("n" -> "s.n + t.n"))))
    val got = Txn.read(spark, root).select("k", "n", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    // k=1 deleted; k=2 fires the SET (200 > 100) — n updated, tag
    // KEPT; k=3 untouched; k=9 unmatched — inserted, tag null
    assert(got == Set((2L, 220L, "b"), (3L, 30L, "c"), (9L, 900L, null)),
      s"clause merge wrong: $got")
    // a matched pair NO clause claims keeps the target row (and is
    // not re-inserted)
    Txn.commitMerge(spark, root, Seq((2L, 1L)).toDF("k", "n"), "k",
      whenMatched = Seq(Txn.WhenMatched(
        condition = Some("s.n > t.n"), set = Map("n" -> "s.n"))))
    assert(Txn.read(spark, root).where(col("k") === 2)
      .select("n").head().getLong(0) == 220L)
    assert(Txn.read(spark, root).count() == 3)
    // a NULL-valued condition never fires (no silent delete-by-null)
    Txn.commitMerge(spark, root, Seq((3L, 5L)).toDF("k", "n"), "k",
      whenMatched = Seq(Txn.WhenMatched(
        condition = Some("s.n > CAST(NULL AS BIGINT)"), delete = true)))
    assert(Txn.read(spark, root).where(col("k") === 3).count() == 1)
    // source columns outside the schema reject loudly
    intercept[IllegalArgumentException] {
      Txn.commitMerge(spark, root, Seq((3L, 5L)).toDF("k", "extra"),
        "k", whenMatched = Seq(Txn.WhenMatched(delete = true)))
    }
  }

  test("N-column Z-order: 3-axis clustering prunes every axis") {
    val root = freshRoot()
    // interleaved (round-robin) layout: every file spans all 3 axes,
    // so nothing prunes before the rewrite
    val df = spark.range(4096).select(
      (col("id") % 16).as("x"),
      (floor(col("id") / 16).cast("long") % 16).as("y"),
      (floor(col("id") / 256).cast("long") % 16).as("z"),
      col("id").as("k"))
      .repartition(8)
    Txn.commitOverwrite(spark, root, df, statsCols = Seq("x", "y", "z"))
    val all = Txn.snapshotFiles(spark, root, 1).size
    assert(Txn.filesForPreds(spark, root, Seq(("x", 0d, 3d))).size == all,
      "fixture not interleaved")
    Txn.compactZOrder(spark, root, Seq("x", "y", "z"), numFiles = 8)
    for (c <- Seq("x", "y", "z")) {
      val cand = Txn.filesForPreds(spark, root, Seq((c, 0d, 3d)))
      assert(cand.size < all && cand.nonEmpty,
        s"3-axis z-order does not prune $c: ${cand.size} of $all")
    }
    // conjunctive slice opens the corner, and the result stays exact
    val both = Txn.filesForPreds(spark, root,
      Seq(("x", 0d, 3d), ("y", 0d, 3d)))
    assert(both.size <= Txn.filesForPreds(spark, root,
      Seq(("x", 0d, 3d))).size)
    assert(Txn.readWhereAll(spark, root,
      Seq(("x", 0d, 3d), ("y", 0d, 3d))).count() == 4 * 4 * 16)
    // the 2-column generic path is bit-identical to the magic-mask
    // interleave16 (the k = 2 special case)
    val probe = spark.range(1000).select(
      (col("id") * 131 % 65536).as("a"), (col("id") * 31 % 65536).as("b"))
    val diff = probe.where(
      graft.functions.ZOrder.interleaveK(Seq(col("a"), col("b")), 16) =!=
        graft.functions.ZOrder.interleave16(col("a"), col("b"))).count()
    assert(diff == 0, s"interleaveK(k=2) drifts from interleave16: $diff")
  }

  test("string bloom primitive: zero false negatives, bounded false positives") {
    import graft.functions.Bloom
    import org.apache.spark.unsafe.types.UTF8String
    val buf = new Array[Byte](8192 / 8)
    (0 until 1000).foreach(i =>
      Bloom.add(buf, UTF8String.fromString(s"u-$i"), 7))
    assert((0 until 1000).forall(i =>
      Bloom.mightContain(buf, UTF8String.fromString(s"u-$i"), 7)),
      "false negative — the prune would silently drop live rows")
    val fp = (100000 until 110000).count(i =>
      Bloom.mightContain(buf, UTF8String.fromString(s"u-$i"), 7))
    assert(fp < 1000, s"false-positive rate degenerate: $fp / 10000")
  }

  test("readWhere: new bounds reuse the compiled read; rows equal a literal filter") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def reference(root: String, c: String, lo: Double, hi: Double) = {
      val x = col(c).try_cast("double")
      rows(Txn.read(spark, root).where(x >= lit(lo) && x <= lit(hi)))
    }
    // a bigint key with a NULL key, DV-masked rows and a renamed
    // (column-mapped) key, past a parquet checkpoint, so the prune
    // runs as a Spark job too
    val root = freshRoot()
    Txn.commitOverwrite(spark, root,
      spark.range(400).select(when(col("id") =!= 13, col("id")).as("k"),
        (col("id") % 7).as("v")).repartitionByRange(4, col("id")),
      statsCol = Some("k"))
    (1 to Txn.checkpointEvery).foreach { i =>
      Txn.commitAppend(spark, root,
        spark.range(400 + 10 * i, 410 + 10 * i).coalesce(1)
          .select(col("id").as("k"), (col("id") % 7).as("v")),
        statsCol = Some("k"))
    }
    val masked = Seq(20L, 21L, 300L, 455L)
    Txn.commitDeleteDv(spark, root, masked.toDF("k"), "k")
    Txn.renameColumn(spark, root, "k", "key")
    assert(fs(root).listStatus(new Path(s"$root/_manifests"))
      .exists(_.getPath.getName.endsWith(".cpq")), "no parquet checkpoint rolled")
    // both ranges keep every file, so both reads plan the same shape
    val first = rows(Txn.readWhere(spark, root, "key", 5d, 590d))
    val c0 = compiles
    val second = rows(Txn.readWhere(spark, root, "key", 9d, 580d))
    assert(compiles == c0, s"a read with new bounds compiled ${compiles - c0} classes")
    assert(first == reference(root, "key", 5d, 590d))
    assert(second == reference(root, "key", 9d, 580d))
    assert(second.size == 390 + 160 - masked.size) // 9..399 but 13; 410..569
    // a double column's bounds stay literals, which Parquet receives;
    // the file whose NaN keeps it from recording a range is read
    val root2 = freshRoot()
    Txn.commitOverwrite(spark, root2, Seq(Double.NaN, 5.0, 7.5).toDF("x")
      .coalesce(1), statsCol = Some("x"))
    Txn.commitAppend(spark, root2, Seq(1.0, 50.0).toDF("x").coalesce(1),
      statsCol = Some("x"))
    for ((lo, hi) <- Seq((4d, 6d), (0d, 100d), (6d, 1d / 0d)))
      assert(rows(Txn.readWhere(spark, root2, "x", lo, hi)) ==
        reference(root2, "x", lo, hi), s"[$lo, $hi]")
    assert(Txn.readWhere(spark, root2, "x", 4d, 6d).queryExecution
      .executedPlan.toString.contains("GreaterThanOrEqual(x,4.0)"))
  }
}
