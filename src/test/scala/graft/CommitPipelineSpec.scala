package graft

import graft.ops.{QualityOps, SinkOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text dump of a versioned table's root: every file (checksums
  * skipped), then the content of every non-parquet file — manifests,
  * sidecars, markers — with the `ts:` stamps dropped. Part-file UUIDs
  * and commit-unique `c<token>` dir names are normalised, the only
  * parts of a layout that differ between two identical runs.
  */
object CommitLayout {
  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val Token = "\\bc[0-9a-f]{12}\\b".r

  def norm(s: String): String =
    Token.replaceAllIn(Uuid.replaceAllIn(s, "<uuid>"), "c<token>")

  def dump(root: java.io.File, returns: Seq[Any]): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val base = root.getCanonicalPath + "/"
    val files = walk(root).filterNot(_.getName.endsWith(".crc"))
      .map(f => (norm(f.getCanonicalPath.stripPrefix(base)), f))
      .sortBy(_._1)
    val sb = new StringBuilder
    sb.append("== returns\n").append(returns.mkString(",")).append('\n')
    sb.append("== files\n")
    files.foreach { case (n, _) => sb.append(n).append('\n') }
    files.filterNot { case (n, _) =>
      n.endsWith(".parquet") || n.endsWith("_SUCCESS") }
      .foreach { case (n, f) =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val lines = try src.getLines().toList finally src.close()
        sb.append("== ").append(n).append('\n')
        lines.filterNot(_.startsWith("ts:"))
          .foreach(l => sb.append(norm(l)).append('\n'))
      }
    sb.toString
  }
}

/** The one commit pipeline (`SinkOps.CommitSpec`), checked three ways:
  *  - GOLDEN LAYOUTS: `src/test/resources/commit_golden/<case>.txt`
  *    holds the [[CommitLayout]] dump each case produced through the
  *    per-variant entry points this API replaced (`commitVersionStats`,
  *    `commitVersionRetrying`, `commitVersionChecked`,
  *    `commitVersionDelta`, `commitVersionKeyed`,
  *    `commitVersionPartitioned{,Cols,Keyed}`, `commitVersionBloom{,s}`,
  *    `commitVersionIndexed`, `compactVersions{Retrying,ZOrder,ZOrderK}`,
  *    `compactSmallDirs`, `mergeVersion{Keyed,Retrying}`,
  *    `deleteVersionKeysRetrying`, the old `commitStreamBatch`,
  *    `stageVersion`/`publishStaged` and the two `expireVersions`
  *    overloads). Each case replays through the new API and must match
  *    byte for byte: dir names, manifest lines, sidecar bytes, marker
  *    files and return values.
  *  - SIDECARS BEFORE MANIFEST: every publish runs a `beforeAttempt`
  *    probe asserting that each not-yet-referenced data dir already
  *    carries the sidecars its commit declares.
  *  - REFUSALS: every loud refusal of the replaced variants still
  *    throws, before the head moves.
  */
class CommitPipelineSpec extends SparkSpec {
  import SinkOps._

  lazy val base: DataFrame = spark.range(0, 48, 1, 2).selectExpr("id",
    "id % 4 AS g", "(id * 7) % 13 AS x",
    "concat('k', cast(id AS string)) AS s",
    "concat('p', cast(id % 3 AS string)) AS p")
  def part(i: Int): DataFrame = base.filter(s"id % 3 = $i")
  def upd: DataFrame = base.filter("id < 12").withColumn("x", lit(99L))
  def keys: DataFrame = base.filter("id % 5 = 0").select("id")
  val nn = Seq(QualityOps.NotNull("x"))

  private var probes = 0

  /** `beforeAttempt` probe: every data dir no manifest names yet is
    * about to be published, so it must already carry each sidecar
    * kind in `kinds`.
    */
  def sidecarsFirst(p: String, kinds: String*): Int => Unit = { _ =>
    probes += 1
    val root = new java.io.File(p)
    val named = Option(new java.io.File(root, "manifest").listFiles())
      .toSeq.flatten.filterNot(_.getName.endsWith(".crc")).flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList finally src.close()
      }.toSet
    val pending = Option(new java.io.File(root, "data").listFiles())
      .toSeq.flatten.map(d => s"data/${d.getName}").filterNot(named)
    assert(pending.nonEmpty, s"publish at $p with no data dir pending")
    for (d <- pending; k <- kinds)
      assert(new java.io.File(root, s"$k/${d.stripPrefix("data/")}.txt")
        .exists, s"$k sidecar of $d missing at publish")
  }

  def spec(p: String, kinds: String*): CommitSpec =
    CommitSpec(beforeAttempt = sidecarsFirst(p, kinds: _*))

  def racer(p: String, df: => DataFrame): Int => Unit = a =>
    if (a == 1) { commitVersion(df, p); () }

  val cases: Seq[(String, String => Seq[Any])] = Seq(
    "commit_flat" -> { p => Seq(commitVersion(part(0), p, spec(p)),
      commitVersion(part(1), p),
      commitVersion(part(2), p, spec(p).copy(carryForward = false))) },
    "commit_stats_opt" -> { p => Seq(
      commitVersion(part(0), p, spec(p, "stats").copy(stats = Seq("x"))),
      commitVersion(part(1), p, CommitSpec(carryForward = false))) },
    "commit_stats" -> { p => Seq(commitVersion(base, p,
      spec(p, "stats").copy(stats = Seq("x", "s")))) },
    "commit_retry" -> { p => Seq(commitVersion(part(0), p),
      commitVersion(part(1), p,
        spec(p, "stats").copy(stats = Seq("x"), retries = 3))) },
    "commit_retry_race" -> { p => Seq(commitVersion(part(0), p),
      commitVersion(part(1), p, CommitSpec(retries = 3,
        beforeAttempt = racer(p, part(2))))) },
    "stream_batch" -> { p => Seq(
      commitStreamBatch(part(0), p, 3, beforeAttempt = sidecarsFirst(p)),
      commitStreamBatch(part(0), p, 3),
      commitStreamBatch(part(1), p, 4, "app")) },
    "checked" -> { p => Seq(
      commitVersion(part(0), p, spec(p, "stats").copy(stats = Seq("x"),
        constraints = Some(Constraints("id", nn)))),
      commitVersion(part(1), p, CommitSpec(carryForward = false,
        constraints = Some(Constraints("id", nn))))) },
    "delta" -> { p => Seq(
      commitVersion(part(0), p,
        CommitSpec(stats = Seq("x"), checkpointEvery = Some(2))),
      commitVersion(part(1), p, CommitSpec(checkpointEvery = Some(2))),
      commitVersion(part(2), p, spec(p, "stats").copy(stats = Seq("x"),
        checkpointEvery = Some(2)))) },
    "delta_default" -> { p => Seq(
      commitVersion(part(0), p, CommitSpec(checkpointEvery = Some(10))),
      commitVersion(part(1), p, CommitSpec(checkpointEvery = Some(10)))) },
    "compact_full" -> { p => Seq(commitVersion(part(0), p),
      deleteVersionKeys(part(0).filter("id < 6").select("id"), p, "id"),
      commitVersion(part(1), p),
      compactVersions(spark, p, beforeAttempt = sidecarsFirst(p))) },
    "compact_clustered" -> { p => Seq(commitVersion(part(0), p),
      commitVersion(part(1), p), compactVersions(spark, p,
        Compaction.Full(Some("x")),
        beforeAttempt = sidecarsFirst(p, "stats"))) },
    "compact_retry" -> { p => Seq(commitVersion(part(0), p),
      commitVersion(part(1), p), compactVersions(spark, p,
        Compaction.Full(Some("x")), retries = 3,
        beforeAttempt = sidecarsFirst(p, "stats"))) },
    "compact_retry_race" -> { p => Seq(commitVersion(part(0), p),
      compactVersions(spark, p, retries = 3,
        beforeAttempt = racer(p, part(1)))) },
    "zorder2" -> { p => Seq(commitVersion(part(0), p),
      commitVersion(part(1), p), compactVersions(spark, p,
        Compaction.ZOrder(Seq("x", "id"), bits = 20),
        beforeAttempt = sidecarsFirst(p, "stats"))) },
    "zorderk" -> { p => Seq(commitVersion(part(0), p),
      commitVersion(part(1), p), compactVersions(spark, p,
        Compaction.ZOrder(Seq("x", "id", "g"), bits = 14,
          targetFiles = Some(2)))) },
    "zorderk_default" -> { p => Seq(commitVersion(base, p),
      compactVersions(spark, p, Compaction.ZOrder(Seq("x", "g")))) },
    "small_dirs" -> { p =>
      val v1 = commitVersion(base, p)
      val big = new org.apache.hadoop.fs.Path(p, "data/v1")
      val bytes = big.getFileSystem(spark.sessionState.newHadoopConf())
        .getContentSummary(big).getLength
      Seq(v1, commitVersion(part(1).filter("id < 9"), p),
        commitVersion(part(2).filter("id < 9"), p),
        compactVersions(spark, p, Compaction.SmallDirs(bytes, Some("x")),
          beforeAttempt = sidecarsFirst(p, "stats"))) },
    "compact_partitioned" -> { p => Seq(
      commitVersion(part(0), p, CommitSpec(layout = Partitioned(Seq("p")))),
      commitVersion(part(1), p),
      compactVersions(spark, p, beforeAttempt = sidecarsFirst(p, "parts")))
    },
    "merge" -> { p => Seq(commitVersion(base, p),
      mergeVersion(upd, p, "id", spec(p))) },
    "merge_stats" -> { p => Seq(commitVersion(base, p),
      mergeVersion(upd, p, "id", spec(p, "stats").copy(stats = Seq("x")))) },
    "merge_partitioned" -> { p => Seq(
      commitVersion(base, p, CommitSpec(layout = Partitioned(Seq("p")))),
      mergeVersion(upd, p, "id",
        spec(p, "parts", "stats").copy(stats = Seq("x")))) },
    "merge_keyed" -> { p => Seq(commitVersion(base, p),
      mergeVersion(upd, p, "id", CommitSpec(batchKey = Some("k1"))),
      mergeVersion(upd, p, "id", CommitSpec(batchKey = Some("k1")))) },
    "merge_retry" -> { p => Seq(commitVersion(base, p),
      mergeVersion(upd, p, "id",
        spec(p, "stats").copy(stats = Seq("x"), retries = 3))) },
    "merge_retry_partitioned" -> { p => Seq(
      commitVersion(base, p, CommitSpec(layout = Partitioned(Seq("p")))),
      mergeVersion(upd, p, "id", spec(p, "parts").copy(retries = 3))) },
    "delete" -> { p => Seq(commitVersion(base, p),
      deleteVersionKeys(keys, p, "id")) },
    "delete_retry" -> { p => Seq(commitVersion(base, p),
      deleteVersionKeys(keys, p, "id", retries = 3,
        beforeAttempt = racer(p, part(0)))) },
    "commit_keyed" -> { p => Seq(
      commitVersion(part(0), p,
        CommitSpec(stats = Seq("x"), batchKey = Some("b1"))),
      commitVersion(part(0), p,
        CommitSpec(stats = Seq("x"), batchKey = Some("b1"))),
      commitVersion(part(1), p,
        CommitSpec(carryForward = false, batchKey = Some("b2")))) },
    "part_keyed" -> { p =>
      val s = spec(p, "parts", "stats").copy(layout = Partitioned(Seq("p")),
        stats = Seq("x"), batchKey = Some("b1"))
      Seq(commitVersion(part(0), p, s), commitVersion(part(0), p, s)) },
    "partitioned" -> { p => Seq(
      commitVersion(part(0), p,
        spec(p, "parts").copy(layout = Partitioned(Seq("p")))),
      commitVersion(part(1), p, CommitSpec(layout = Partitioned(Seq("p")),
        carryForward = false))) },
    "part_cols" -> { p => Seq(commitVersion(base, p,
      spec(p, "parts", "stats", "blooms").copy(
        layout = Partitioned(Seq("p", "g")), stats = Seq("x"),
        blooms = Seq("s")))) },
    "bloom" -> { p => Seq(
      commitVersion(base, p, spec(p, "blooms").copy(blooms = Seq("id"))),
      commitVersion(part(0), p,
        CommitSpec(blooms = Seq("s"), carryForward = false))) },
    "blooms" -> { p => Seq(commitVersion(base, p,
      spec(p, "blooms").copy(blooms = Seq("id", "s")))) },
    "indexed" -> { p => Seq(commitVersion(base, p,
      spec(p, "stats", "blooms").copy(stats = Seq("x"),
        blooms = Seq("s")))) },
    "staged" -> { p =>
      val v1 = commitVersion(part(0), p)
      val v = stageVersion(part(1), p)
      publishStaged(spark, p, v)
      Seq(v1, v) },
    "staged_pending" -> { p => Seq(stageVersion(part(0), p)) },
    "expire" -> { p => Seq(commitVersion(part(0), p),
      commitVersion(part(1), p), commitVersion(part(2), p),
      compactVersions(spark, p), expireVersions(spark, p, 4),
      commitVersion(part(0), p), expireVersions(spark, p, 5, 0L)) }
  )

  private def tmpRoot(name: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d
  }

  test("every commit case lays out byte-identically to its golden " +
      "record, and every publish finds its sidecars already written") {
    val root = tmpRoot("commit_golden")
    val golden = new java.io.File("src/test/resources/commit_golden")
    assert(golden.listFiles().map(_.getName.stripSuffix(".txt")).sorted
      .sameElements(cases.map(_._1).sorted),
      "golden records and replayed cases must name the same cases")
    probes = 0
    val mismatched = cases.flatMap { case (name, run) =>
      val p = new java.io.File(root, name)
      val got = CommitLayout.dump(p, run(p.getPath))
      val src = scala.io.Source.fromFile(
        new java.io.File(golden, s"$name.txt"), "UTF-8")
      val want = try src.mkString finally src.close()
      if (got == want) None else Some(s"$name:\n--- want\n$want--- got\n$got")
    }
    assert(mismatched.isEmpty, mismatched.mkString("\n"))
    assert(probes >= 25, s"only $probes publishes probed")
  }

  test("OPTIMIZE ... ZORDER BY (a, b) RETRY 2 lands through an injected " +
      "version race, with the racer's rows in the pack") {
    val p = new java.io.File(tmpRoot("zorder_retry"), "t").getPath
    commitVersion(part(0), p)
    commitVersion(part(1), p)
    val cmd = spark.sessionState.sqlParser.parsePlan(
        s"OPTIMIZE graft_table('$p') ZORDER BY (x, id) RETRY 2") match {
      case c: graft.functions.GraftOptimizeCommand => c
      case other => fail(s"not an OPTIMIZE command: $other")
    }
    assert(cmd.retries == 2 && cmd.zorderCols == Seq("x", "id"))
    val v = cmd.copy(beforeAttempt = racer(p, part(2))).run(spark)
      .head.getInt(0)
    assert(v == 4, s"landed at v$v") // 2 commits + the racer's v3
    assert(manifestLines(spark, p, v).size == 1)
    assert(readVersion(spark, p).count() == 48,
      "racer's rows missing from the pack")
    val packDir = manifestLines(spark, p, v).head
    assert(packDir.startsWith("data/c"), packDir)
    assert(new java.io.File(p, s"stats/${packDir.stripPrefix("data/")}.txt")
      .exists, "zone maps of the ZORDER pack missing")
    assert(new java.io.File(p, "data").listFiles().length == 4,
      "the losing attempt's pack was left behind")
  }

  test("a retried compaction of a partitioned head re-packs into the " +
      "partition layout and keeps its parts sidecar") {
    val p = new java.io.File(tmpRoot("part_retry"), "t").getPath
    commitVersion(part(0), p, CommitSpec(layout = Partitioned(Seq("p"))))
    val v = compactVersions(spark, p, retries = 3,
      beforeAttempt = racer(p, part(1)))
    assert(v == 3)
    val packDir = manifestLines(spark, p, v).head.stripPrefix("data/")
    assert(packDir.startsWith("c"), packDir)
    val parts = new java.io.File(p, s"parts/$packDir.txt")
    assert(parts.exists, "retried partitioned pack lost its parts sidecar")
    val src = scala.io.Source.fromFile(parts, "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    assert(lines.head == "p")
    assert(lines.tail.map(_.split('\t')(1).toLong).sum == 32L,
      "pack must hold the racer's rows too")
    assert(partCountsOnly(spark, p).count() == 2) // p0 and p1
  }

  test("a commit-unique dir is removed when its commit loses every race, " +
      "never a version-named one") {
    val p = new java.io.File(tmpRoot("lost_race"), "t").getPath
    commitVersion(part(0), p)
    val e = intercept[IllegalStateException] {
      commitVersion(part(1), p, CommitSpec(stats = Seq("x"), retries = 2,
        beforeAttempt = _ => { commitVersion(part(2), p); () }))
    }
    assert(e.getMessage.contains("lost 2 version races"))
    val data = new java.io.File(p, "data").listFiles().map(_.getName)
    assert(!data.exists(_.startsWith("c")), data.toSeq)
    assert(!new java.io.File(p, "stats").exists ||
      new java.io.File(p, "stats").listFiles().isEmpty,
      "the lost commit's stats sidecar was left behind")
    // A single attempt surfaces the conflict itself.
    val e1 = intercept[IllegalArgumentException] {
      commitVersion(part(1), p, CommitSpec(
        beforeAttempt = _ => { commitVersion(part(2), p); () }))
    }
    assert(e1.getMessage.contains("commit conflict"), e1.getMessage)
  }

  test("every refusal of the replaced entry points still throws, " +
      "before the head moves") {
    val root = tmpRoot("refusals")
    var n = 0
    def fresh(): String = { n += 1; new java.io.File(root, s"t$n").getPath }
    def refuses(what: String, p: String, headBefore: Int)
               (body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(Option(e.getMessage).exists(_.contains(what)),
        s"expected '$what', got: ${e.getMessage}")
      assert(currentVersion(spark, p) == headBefore,
        s"refusal '$what' moved the head")
    }
    val t = fresh()
    // Spec checks: all before any file lands.
    refuses("no constraints declared", t, 0)(
      commitVersion(base, t, CommitSpec(constraints =
        Some(Constraints("id", Nil)))))
    refuses("checkpoint interval must be >= 1", t, 0)(
      commitVersion(base, t, CommitSpec(checkpointEvery = Some(0))))
    refuses("partition columns must be non-empty and distinct", t, 0)(
      commitVersion(base, t, CommitSpec(layout = Partitioned(Nil))))
    refuses("partition column nope not in", t, 0)(
      commitVersion(base, t, CommitSpec(layout = Partitioned(Seq("nope")))))
    refuses("is a partition column", t, 0)(
      commitVersion(base, t, CommitSpec(layout = Partitioned(Seq("p")),
        stats = Seq("p"))))
    refuses("stats columns must be non-empty and distinct", t, 0)(
      commitVersion(base, t, CommitSpec(stats = Seq("x", "x"))))
    refuses("bloom columns must be non-empty and distinct", t, 0)(
      commitVersion(base, t, CommitSpec(blooms = Seq("x", "x"))))
    val nested = base.withColumn("arr", array(col("id")))
    refuses("zone maps need", t, 0)(
      commitVersion(nested, t, CommitSpec(stats = Seq("arr"))))
    assert(!new java.io.File(t, "data").exists,
      "a spec refusal wrote data before refusing")
    // Publish-time refusals.
    refuses("constraint violations", t, 0)(
      commitVersion(base.withColumn("x", lit(null).cast("long")), t,
        CommitSpec(constraints = Some(Constraints("id", nn)))))
    assert(!new java.io.File(t, "data").exists ||
      new java.io.File(t, "data").listFiles().isEmpty,
      "a refused checked commit left its staged dir")
    refuses("hive escaping", t, 0)(
      commitVersion(base.withColumn("p", lit("a b")), t,
        CommitSpec(layout = Partitioned(Seq("p")))))
    refuses("does not survive Spark partition-type inference", t, 0)(
      commitVersion(base.withColumn("p", lit("01")), t,
        CommitSpec(layout = Partitioned(Seq("p")))))
    refuses("checkpointEvery needs carryForward", t, 0)(
      commitVersion(base, t, CommitSpec(carryForward = false,
        checkpointEvery = Some(2))))
    refuses("maxTries must be >= 1", t, 0)(
      commitVersion(base, t, CommitSpec(retries = 0)))
    // DML on an empty table.
    refuses("nothing to merge", t, 0)(mergeVersion(upd, t, "id"))
    refuses("nothing to delete", t, 0)(deleteVersionKeys(keys, t, "id"))
    refuses("no versions committed", t, 0)(compactVersions(spark, t))
    // Merges follow the head layout.
    val pt = fresh()
    commitVersion(base, pt, CommitSpec(layout = Partitioned(Seq("p"))))
    refuses("merge batch lacks the table's partition column", pt, 1)(
      mergeVersion(upd.drop("p"), pt, "id"))
    refuses("is a partition column of", pt, 1)(
      mergeVersion(upd, pt, "id", CommitSpec(stats = Seq("p"))))
    refuses("follows the head's partition layout", pt, 1)(
      mergeVersion(upd, pt, "id",
        CommitSpec(layout = Partitioned(Seq("p")))))
    // Compaction refusals.
    refuses("compact without statsCol", pt, 1)(
      compactVersions(spark, pt, Compaction.Full(Some("x"))))
    refuses("ZORDER would flatten", pt, 1)(
      compactVersions(spark, pt, Compaction.ZOrder(Seq("x", "id"))))
    refuses("needs >= 2 distinct columns", pt, 1)(
      compactVersions(spark, pt, Compaction.ZOrder(Seq("x"))))
    refuses("hive-partitioned", pt, 1)(
      compactVersions(spark, pt, Compaction.SmallDirs(1L << 40)))
    val ft = fresh()
    commitVersion(base, ft)
    refuses("overflows a signed long", ft, 1)(
      compactVersions(spark, ft,
        Compaction.ZOrder(Seq("x", "id", "g"), bits = 21)))
    refuses("nothing to pack", ft, 1)(
      compactVersions(spark, ft, Compaction.SmallDirs(1L)))
    // Stream batches and staging.
    refuses("txnAppId must be", ft, 1)(
      commitStreamBatch(base, ft, 1, "bad app"))
    val sv = stageVersion(part(0), ft)
    commitVersion(part(1), ft)
    refuses("stale staged version", ft, 3)(publishStaged(spark, ft, sv))
  }
}
