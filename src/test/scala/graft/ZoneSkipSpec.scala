package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.plans.{ZoneRegistry, Zones}

/** Contract for [[graft.plans.ZoneSkipRule]]: a registered table's
  * PLAIN `spark.read.parquet(dir).filter(...)` — zero graft calls —
  * scans only files whose zones can intersect the predicate, with
  * answer identity against the unpruned twin, a clean empty frame when
  * nothing intersects, and conservative keep-everything behavior for
  * anything unpriceable.
  */
class ZoneSkipSpec extends SparkSpec {

  /** 4 flat files, k ∈ [0,25), [25,50), [50,75), [75,100), one file
    * each, deterministic names; registered zone metadata on k.
    */
  private def layout(): (String, String) = {
    val base = java.nio.file.Files
      .createTempDirectory("graft-zoneskip").toString
    val table = s"$base/table"; val meta = s"$base/meta"
    new java.io.File(table).mkdirs()
    for (b <- 0 until 4) {
      val stage = s"$base/stage$b"
      spark.range(b * 25, (b + 1) * 25)
        .select(col("id").as("k"), (col("id") * 10).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
                   f.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file in $stage"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$table/f$b.parquet"))
    }
    Zones.analyzeAndRegister(spark, table, meta, Seq("k"))
    (table, meta)
  }

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves()
      .collect { case lr: LogicalRelation => lr.relation }
      .collect { case fs: HadoopFsRelation => fs.location.inputFiles.toSeq }
      .flatten

  test("plain filtered read scans only zone-surviving files; answer " +
       "identical to the unpruned twin") {
    val (table, _) = layout()
    try {
      def q() = spark.read.parquet(table).filter(col("k") >= 60)
        .groupBy(lit(1).as("g")).agg(count(lit(1)).as("n"),
          sum(col("v")).as("sv"))
      val pruned = q()
      val files = scannedFiles(pruned)
      // k >= 60 can only live in [50,75) and [75,100)
      assert(files.length == 2 &&
        files.forall(f => f.contains("f2.parquet") || f.contains("f3.parquet")),
        files.toString)
      val prunedRows = pruned.collect().map(_.toSeq).toSeq
      ZoneRegistry.clear()
      val plain = q()
      assert(scannedFiles(plain).length == 4)
      assert(plain.collect().map(_.toSeq).toSeq == prunedRows)
    } finally ZoneRegistry.clear()
  }

  test("Dataset.inputFiles reflects the pruned listing on the plain read") {
    val (table, _) = layout()
    try {
      val df = spark.read.parquet(table)
        .filter(col("k") === 30).select(col("v"))
      assert(df.inputFiles.toSeq.forall(_.contains("f1.parquet")) &&
        df.inputFiles.length == 1, df.inputFiles.mkString(","))
    } finally ZoneRegistry.clear()
  }

  test("a metadata table written before column tags registers untagged " +
       "and still prunes") {
    val (table, meta) = layout()
    try {
      val untagged = s"$meta-untagged"
      spark.read.parquet(meta).drop("col_tag").write.parquet(untagged)
      ZoneRegistry.clear()
      Zones.registerFromMetadata(spark, table, untagged)
      val Seq(manifest) = ZoneRegistry.entries.values.toSeq
      assert(manifest.tags.isEmpty && manifest.files.size == 4)
      val files = scannedFiles(spark.read.parquet(table).filter(col("k") >= 60))
      assert(files.length == 2, files.toString)
    } finally ZoneRegistry.clear()
  }

  test("a window intersecting no zone yields an empty frame, not a throw") {
    val (table, _) = layout()
    try {
      val df = spark.read.parquet(table).filter(col("k") >= 1000)
      assert(scannedFiles(df).isEmpty)
      assert(df.count() == 0L)
    } finally ZoneRegistry.clear()
  }

  test("unpriceable predicates and unregistered tables keep every file") {
    val (table, _) = layout()
    try {
      // modulo predicate: not a comparison the manifest can price
      val unpriceable = spark.read.parquet(table)
        .filter(col("k") % 7 === 0)
      assert(scannedFiles(unpriceable).length == 4)
      // disjunction: conservative, keeps all
      val disj = spark.read.parquet(table)
        .filter(col("k") < 10 || col("k") > 90)
      assert(scannedFiles(disj).length == 4)
    } finally ZoneRegistry.clear()
  }

  test("an all-NULL zone column keeps the file instead of failing the " +
       "optimizer") {
    // a file whose zone column is entirely NULL manifests MIN/MAX = NULL
    // renderings; those are unpriceable — the file is conservatively
    // kept, and every plain read of the table still plans
    val base = java.nio.file.Files
      .createTempDirectory("graft-zonenull").toString
    val table = s"$base/table"; val meta = s"$base/meta"
    new java.io.File(table).mkdirs()
    def one(stageTag: String, df: org.apache.spark.sql.DataFrame,
            out: String): Unit = {
      val stage = s"$base/$stageTag"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
                   f.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file in $stage"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$table/$out"))
    }
    one("s0", spark.range(0, 25)
      .select(col("id").cast("long").as("k"), (col("id") * 10).as("v")),
      "f0.parquet")
    one("s1", spark.range(25, 50)
      .select(lit(null).cast("long").as("k"), (col("id") * 10).as("v")),
      "fnull.parquet")
    try {
      Zones.analyzeAndRegister(spark, table, meta, Seq("k"))
      val df = spark.read.parquet(table).filter(col("k") >= 1000)
      // f0's zone excludes; the NULL-zone file is kept (conservative)
      val files = scannedFiles(df)
      assert(files.length == 1 && files.head.contains("fnull.parquet"),
        files.toString)
      assert(df.count() == 0L) // residual filter: NULL matches nothing
    } finally ZoneRegistry.clear()
  }

  test("the residual filter still runs: zones are conservative, not exact") {
    val (table, _) = layout()
    try {
      // k = 30 keeps file f1 (zone [25,50)) but only ONE row matches
      val df = spark.read.parquet(table).filter(col("k") === 30)
      assert(scannedFiles(df).length == 1)
      assert(df.count() == 1L)
    } finally ZoneRegistry.clear()
  }

  test("multi-root read: one merged manifest prunes files across BOTH " +
       "registered roots") {
    // the post-compaction / resolved-snapshot shape: the table is a
    // UNION of directories; the manifest is file-keyed, the registry
    // key is the root SET (order-free)
    val base = java.nio.file.Files
      .createTempDirectory("graft-zmulti").toString
    val dirA = s"$base/a"; val dirB = s"$base/b"; val meta = s"$base/meta"
    new java.io.File(dirA).mkdirs(); new java.io.File(dirB).mkdirs()
    for (b <- 0 until 4) {
      val stage = s"$base/stage$b"
      spark.range(b * 25, (b + 1) * 25)
        .select(col("id").as("k"), (col("id") * 10).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
                   f.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file in $stage"))
      val dst = if (b < 2) dirA else dirB
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dst/f$b.parquet"))
    }
    try {
      Zones.writeMetadata(
        Zones.analyzeFiles(spark.read.parquet(dirA, dirB), Seq("k")), meta)
      Zones.registerFromMetadataRoots(spark, Seq(dirA, dirB), Seq(meta))
      def q(lo: Int, hi: Int) = spark.read.parquet(dirB, dirA)
        .filter(col("k") >= lo && col("k") < hi)
      // [20, 55) intersects f0 [0,25) and f1 [25,50) in dirA plus
      // f2 [50,75) in dirB — pruning spans both roots
      val across = q(20, 55)
      val files = scannedFiles(across)
      assert(files.length == 3 && !files.exists(_.contains("f3")),
        files.toString)
      assert(across.count() == 35L)
      // root order in the read does not matter (sorted key)
      val oneRoot = q(80, 200)
      val kept = scannedFiles(oneRoot)
      assert(kept.length == 1 && kept.head.contains("f3.parquet"),
        kept.toString)
      assert(oneRoot.count() == 20L)
    } finally ZoneRegistry.clear()
  }

  test("catalog table: spark.table(...) zone-prunes via the table-name " +
       "registration, zero paths in the query") {
    import org.apache.spark.sql.SaveMode
    val tbl = "graft_zcat_t"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.range(0, 100)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("k"))
      .write.mode(SaveMode.Overwrite).saveAsTable(tbl)
    try {
      val meta = java.nio.file.Files
        .createTempDirectory("graft-zcat").toString + "/meta"
      Zones.writeMetadata(
        Zones.analyzeFiles(spark.table(tbl), Seq("k")), meta)
      Zones.registerTableFromMetadata(spark, tbl, Seq(meta))
      val df = spark.table(tbl).filter(col("k") >= 90)
      val kept = scannedFiles(df)
      assert(kept.length < 4 && kept.nonEmpty, kept.toString)
      assert(df.count() == 10L)
    } finally {
      ZoneRegistry.clear()
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      ()
    }
  }

  test("string-tagged zones prune ranges lexicographically; non-string " +
       "renderings never compare that way") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-zstr").toString
    val table = s"$base/table"; val meta = s"$base/meta"
    new java.io.File(table).mkdirs()
    // one file per flag value, plus a numeric column whose renderings
    // would MISLEAD lexicographically ("9" vs "24") and a double column
    val flags = Seq("AIR", "MAIL", "RAIL", "SHIP")
    for ((f, i) <- flags.zipWithIndex) {
      val stage = s"$base/stage$i"
      spark.range(0, 10)
        .select(lit(f).as("mode"),
          (col("id") + i * 8).as("k"), // file i covers [8i, 8i+9]
          (col("id") * 1.5 + i).as("d"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(p => p.getName.startsWith("part-") &&
                   p.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file in $stage"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$table/f$i.parquet"))
    }
    try {
      Zones.analyzeAndRegister(spark, table, meta, Seq("mode", "k", "d"))
      // string RANGE: mode >= 'RAIL' keeps exactly RAIL and SHIP files
      val range = spark.read.parquet(table)
        .filter(col("mode") >= "RAIL")
      val rf = scannedFiles(range)
      assert(rf.length == 2 &&
        rf.forall(f => f.contains("f2") || f.contains("f3")), rf.toString)
      assert(range.count() == 20L)
      // string EQUALITY: mode = 'MAIL' keeps one file
      val eq = spark.read.parquet(table).filter(col("mode") === "MAIL")
      val ef = scannedFiles(eq)
      assert(ef.length == 1 && ef.head.contains("f1"), ef.toString)
      // numeric zones on the same table still parse-compare: k >= 24
      // keeps f2 [16,25] and f3 [24,33] — lexicographic "9" > "24"
      // nonsense must not leak in
      val num = spark.read.parquet(table).filter(col("k") >= 24)
      val nf = scannedFiles(num)
      assert(nf.length == 2 &&
        nf.forall(f => f.contains("f2") || f.contains("f3")), nf.toString)
      // a DOUBLE column ("other" tag) never prunes — conservative
      val dbl = spark.read.parquet(table).filter(col("d") >= 100.0)
      assert(scannedFiles(dbl).length == 4)
    } finally ZoneRegistry.clear()
  }

  test("append-table compaction: cold tail bin-packed, stale metadata " +
       "pruned, zone pruning intact on both sides") {
    val (table, meta) = layout() // f0..f3, k quartiles of [0,100)
    try {
      val before = spark.read.parquet(table).count()
      // bin-pack the cold tail f0..f2 into ONE k-sorted file
      val renamed = Zones.compactFiles(spark, table, meta,
        (0 until 3).map(b => s"$table/f$b.parquet"),
        Seq("k"), numFiles = 1, sortBy = Some("k"))
      assert(renamed.length == 1)
      val dropped = Zones.pruneMetadata(spark, meta)
      assert(dropped == 3L, dropped.toString) // one zone row per old file
      Zones.registerFromMetadata(spark, table, meta)
      // content identical
      assert(spark.read.parquet(table).count() == before)
      // the hot file still prunes alone...
      val hot = spark.read.parquet(table).filter(col("k") >= 80)
      val hf = scannedFiles(hot)
      assert(hf.length == 1 && hf.head.contains("f3.parquet"), hf.toString)
      assert(hot.count() == 20L)
      // ...and the merged cold file serves the cold window alone
      val cold = spark.read.parquet(table).filter(col("k") < 30)
      val cf = scannedFiles(cold)
      assert(cf.length == 1 && cf.head.contains("compacted_"), cf.toString)
      assert(cold.count() == 30L)
      // metadata rows: exactly one per live file
      assert(spark.read.parquet(meta).count() == 2L)
    } finally ZoneRegistry.clear()
  }

  test("incremental zone maintenance scans only the delta file") {
    val (table, meta) = layout()
    try {
      // a new file arrives: its zones come from one pass over ITSELF
      val stage = java.nio.file.Files
        .createTempDirectory("graft-zinc").toString
      spark.range(100, 125).select(col("id").as("k"), (col("id") * 10).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
                   f.getName.endsWith(".parquet"))
        .getOrElse(fail("no part file"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$table/f4.parquet"))
      val delta = Zones.analyzeFiles(
        spark.read.parquet(s"$table/f4.parquet"), Seq("k"))
      // the maintenance pass reads exactly the delta file
      assert(scannedFiles(delta.filter(lit(true)))
        .forall(_.contains("f4.parquet")))
      delta.write.mode("append").parquet(meta)
      Zones.registerFromMetadata(spark, table, meta)
      // the merged manifest prunes a plain read down to the delta
      val df = spark.read.parquet(table).filter(col("k") >= 110)
      val files = scannedFiles(df)
      assert(files.length == 1 && files.head.contains("f4.parquet"),
        files.toString)
      assert(df.count() == 15L)
    } finally ZoneRegistry.clear()
  }

  test("multi-column zones prune on EITHER column's predicate") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-zone2col").toString
    val table = s"$base/table"; val meta = s"$base/meta"
    new java.io.File(table).mkdirs()
    // 2 files clustered on BOTH columns: (k, t) = ([0,50), [100,150))
    // and ([50,100), [150,200)) — a Z-ordered layout's extent shape
    for (b <- 0 until 2) {
      val stage = s"$base/stage$b"
      spark.range(b * 50, (b + 1) * 50)
        .select(col("id").as("k"), (col("id") + 100).as("t"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
                   f.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file in $stage"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$table/f$b.parquet"))
    }
    Zones.analyzeAndRegister(spark, table, meta, Seq("k", "t"))
    try {
      val byK = spark.read.parquet(table).filter(col("k") < 10)
      assert(scannedFiles(byK).forall(_.contains("f0.parquet")) &&
        scannedFiles(byK).length == 1)
      val byT = spark.read.parquet(table).filter(col("t") >= 160)
      assert(scannedFiles(byT).forall(_.contains("f1.parquet")) &&
        scannedFiles(byT).length == 1)
      // conjunction across both columns composes the tests
      val both = spark.read.parquet(table)
        .filter(col("k") < 10 && col("t") >= 160)
      assert(scannedFiles(both).isEmpty && both.count() == 0L)
    } finally ZoneRegistry.clear()
  }

  test("dir-partitioned layout: data-column zones compose with Spark's " +
       "partition pruning") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-zonepart").toString
    val table = s"$base/table"; val meta = s"$base/meta"
    import spark.implicits._
    // p=0 holds k ∈ [0,50), p=1 holds k ∈ [50,100) — one file each
    (0 until 100).map(i => (i.toLong, i / 50))
      .toDF("k", "p")
      .repartition(col("p"))
      .write.mode("overwrite").partitionBy("p").parquet(table)
    Zones.analyzeAndRegister(spark, table, meta, Seq("k"))
    try {
      // predicate on the DATA column only: partition pruning can do
      // nothing; the zone rule prunes to p=1's file
      val byK = spark.read.parquet(table).filter(col("k") >= 60)
      val files = scannedFiles(byK)
      assert(files.length == 1 && files.head.contains("p=1"),
        files.toString)
      assert(byK.count() == 40L)
      // the partition column still reads back through the pruned index
      assert(byK.select(col("p")).distinct().as[Int].collect().toSeq ==
        Seq(1))
      // and a partition-column predicate composes with the zone prune
      val both = spark.read.parquet(table)
        .filter(col("k") >= 60 && col("p") === 0)
      assert(both.count() == 0L)
    } finally ZoneRegistry.clear()
  }

  test("dictionary zones prune equality on interleaved keys that " +
       "min/max cannot; over-cap and absent-value files stay kept") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-zdict").toString
    val table = s"$base/table"; val meta = s"$base/meta"
    val dicts = s"$base/dicts"
    new java.io.File(table).mkdirs()
    def one(tag: String, df: org.apache.spark.sql.DataFrame,
            out: String): Unit = {
      val stage = s"$base/$tag"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
                   f.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file in $stage"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$table/$out"))
    }
    // f0..f2: k ≡ r (mod 3) over [0, 30) — all [min, max] straddle 7;
    // f3: 100 DISTINCT even values (over the cap 16), range [0, 198]
    // also straddles 7 but never contains it
    for (r <- 0 until 3)
      one(s"s$r", spark.range(0, 10)
        .select((col("id") * 3 + r).as("k"), (col("id") * 10).as("v")),
        s"f$r.parquet")
    one("s3", spark.range(0, 100)
      .select((col("id") * 2).as("k"), (col("id") * 10).as("v")),
      "f3.parquet")
    try {
      Zones.writeMetadata(Zones.analyzeFiles(
        spark.read.parquet(table), Seq("k")), meta)
      Zones.writeMetadata(Zones.analyzeDictFiles(
        spark.read.parquet(table), Seq("k"), maxDict = 16), dicts)
      // the dict manifest holds only the ≤cap files
      val dn = spark.read.parquet(dicts).collect()
      assert(dn.length == 3 && dn.forall(!_.getString(0).contains("f3")),
        dn.mkString(","))
      Zones.registerFromMetadataRoots(spark, Seq(table), Seq(meta),
        Seq(dicts))
      // k = 7: min/max keeps all four (every range straddles 7); the
      // dict prunes f0/f2 exactly and keeps over-cap f3 conservatively
      val eq = spark.read.parquet(table).filter(col("k") === 7)
      val ef = scannedFiles(eq)
      assert(ef.length == 2 &&
        ef.exists(_.contains("f1.parquet")) &&
        ef.exists(_.contains("f3.parquet")), ef.toString)
      assert(eq.count() == 1L) // residual filter: f3 has no 7
      // ranges never consult the dict: k >= 28 prunes by min/max only
      val rng = spark.read.parquet(table).filter(col("k") >= 28)
      val rf = scannedFiles(rng)
      assert(rf.length == 3 && !rf.exists(_.contains("f0.parquet")),
        rf.toString)
      // answer identity against the unpruned twin
      val prunedRows = eq.collect().map(_.toSeq).toSeq
      ZoneRegistry.clear()
      assert(spark.read.parquet(table).filter(col("k") === 7)
        .collect().map(_.toSeq).toSeq == prunedRows)
    } finally ZoneRegistry.clear()
  }

  test("capped-set dict analysis is result-identical to the two-pass " +
       "collect_set form at the cap boundary and under partitioned merges") {
    // round-14: analyzeDictFiles became ONE capped-set aggregation; this
    // pins its output against the old distinct→ndv-filter→collect_set
    // chain, inline, on a frame engineered to stress the cap: a column
    // at EXACTLY the cap (kept, complete, sorted), one at cap+1
    // (dropped), heavy duplication so map-side partials merge poisoned
    // and clean buffers across 8 partitions, plus NULLs (excluded).
    val cap = 8
    val df = spark.range(0, 4000)
      .select(
        concat(lit("f"), (col("id") % 2).cast("string")).as("file_tag"),
        // per file_tag ndv: f0 → cap (ids 0,2,..14 → 8 evens), f1 →
        // cap+1 (ids 1,3,..17 → 9 odds): the kept/dropped boundary
        when(col("id") % 2 === 0, (col("id") % 16).cast("string"))
          .otherwise((col("id") % 18).cast("string")).as("k"),
        // NULL-heavy column with tiny ndv — kept, nulls excluded
        when(col("id") % 3 === 0, lit(null).cast("string"))
          .otherwise((col("id") % 4).cast("string")).as("n"))
      .repartition(8) // partial buffers merge across tasks
    val got = Zones.analyzeDictFiles(df, Seq("k", "n"), cap,
        fileCol = col("file_tag"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getSeq[String](2).toList)).toList
    // the OLD chain, verbatim, as the reference
    val dvK = df.select(col("file_tag").as("file"),
        col("k").cast("string").as("v"))
      .filter(col("v").isNotNull).distinct()
    def oldChain(dv: org.apache.spark.sql.DataFrame, cname: String) = {
      val small = dv.groupBy(col("file"))
        .agg(count(lit(1)).as("ndv"))
        .filter(col("ndv") <= cap).select(col("file"))
      dv.join(small, Seq("file")).groupBy(col("file"))
        .agg(sort_array(collect_set(col("v"))).as("dict_repr"))
        .select(col("file"), lit(cname).as("col_name"), col("dict_repr"))
    }
    val dvN = df.select(col("file_tag").as("file"),
        col("n").cast("string").as("v"))
      .filter(col("v").isNotNull).distinct()
    val want = oldChain(dvK, "k").unionByName(oldChain(dvN, "n"))
      .orderBy(col("file"), col("col_name"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getSeq[String](2).toList)).toList
    assert(got == want, s"got $got\nwant $want")
    // boundary sanity stated explicitly: k kept only for the even file
    assert(got.exists(e => e._1 == "f0" && e._2 == "k" &&
      e._3.length == cap))
    assert(!got.exists(e => e._1 == "f1" && e._2 == "k"))
  }

  test("dictionary equality is type-tag-aware: date literals render as " +
       "dates; a string literal never dict-prunes a long column") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-zdictd").toString
    val table = s"$base/table"; val meta = s"$base/meta"
    val dicts = s"$base/dicts"
    new java.io.File(table).mkdirs()
    def one(tag: String, ds: Seq[String], out: String): Unit = {
      val stage = s"$base/$tag"
      import spark.implicits._
      ds.toDF("s").select(col("s").cast("date").as("d"),
          lit(1L).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
                   f.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file in $stage"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$table/$out"))
    }
    // interleaved DATES: both ranges straddle 2024-01-02
    one("s0", Seq("2024-01-01", "2024-01-03"), "f0.parquet")
    one("s1", Seq("2024-01-02", "2024-01-04"), "f1.parquet")
    try {
      Zones.writeMetadata(Zones.analyzeFiles(
        spark.read.parquet(table), Seq("d")), meta)
      Zones.writeMetadata(Zones.analyzeDictFiles(
        spark.read.parquet(table), Seq("d"), maxDict = 16), dicts)
      Zones.registerFromMetadataRoots(spark, Seq(table), Seq(meta),
        Seq(dicts))
      // a DATE literal's epoch-day renders back to yyyy-MM-dd for the
      // dictionary membership test
      val eq = spark.read.parquet(table)
        .filter(col("d") === lit(java.sql.Date.valueOf("2024-01-02")))
      val ef = scannedFiles(eq)
      assert(ef.length == 1 && ef.head.contains("f1.parquet"),
        ef.toString)
      assert(eq.count() == 1L)
    } finally ZoneRegistry.clear()
  }

  test("IN-list prunes as the OR of per-literal tests — dictionary " +
       "membership per member, over-cap files kept") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-zin").toString
    val table = s"$base/table"; val meta = s"$base/meta"
    val dicts = s"$base/dicts"
    new java.io.File(table).mkdirs()
    def one(tag: String, df: org.apache.spark.sql.DataFrame,
            out: String): Unit = {
      val stage = s"$base/$tag"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
                   f.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file in $stage"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$table/$out"))
    }
    // f0..f2 interleaved k ≡ r (mod 3) over [0,30); f3 over-cap evens
    for (r <- 0 until 3)
      one(s"s$r", spark.range(0, 10)
        .select((col("id") * 3 + r).as("k"), (col("id") * 10).as("v")),
        s"f$r.parquet")
    one("s3", spark.range(0, 100)
      .select((col("id") * 2).as("k"), (col("id") * 10).as("v")),
      "f3.parquet")
    try {
      Zones.writeMetadata(Zones.analyzeFiles(
        spark.read.parquet(table), Seq("k")), meta)
      Zones.writeMetadata(Zones.analyzeDictFiles(
        spark.read.parquet(table), Seq("k"), maxDict = 16), dicts)
      Zones.registerFromMetadataRoots(spark, Seq(table), Seq(meta),
        Seq(dicts))
      // IN (7, 12): 7 lives only in f1, 12 only in f0; f2 has neither
      // → pruned; over-cap f3 kept conservatively
      val in = spark.read.parquet(table).filter(col("k").isin(7, 12))
      val fs = scannedFiles(in)
      assert(fs.length == 3 && !fs.exists(_.contains("f2.parquet")),
        fs.toString)
      assert(in.count() == 3L) // 7, 12, and f3's 12
      // an IN whose members all miss every dictionary prunes to the
      // over-cap file alone
      val none = spark.read.parquet(table).filter(col("k").isin(31, 34))
      val nf = scannedFiles(none)
      assert(nf.length == 1 && nf.head.contains("f3.parquet"),
        nf.toString)
      assert(none.count() == 1L) // f3 holds 34
      // answer identity against the unpruned twin
      val prunedRows = in.collect().map(_.toSeq).toSeq
      ZoneRegistry.clear()
      assert(spark.read.parquet(table).filter(col("k").isin(7, 12))
        .collect().map(_.toSeq).toSeq == prunedRows)
    } finally ZoneRegistry.clear()
  }

  test("zone manifest round-trips through the parquet metadata table") {
    val (table, meta) = layout()
    try {
      val m = spark.read.parquet(meta).collect()
      assert(m.length == 4) // one row per file × 1 zone column
      val byFile = m.map(r => r.getString(0).split('/').last ->
        (r.getString(2), r.getString(3))).toMap
      assert(byFile("f0.parquet") == ("0", "24"))
      assert(byFile("f3.parquet") == ("75", "99"))
    } finally ZoneRegistry.clear()
  }
}
