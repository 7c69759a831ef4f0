package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import graft.sources.{Extractor, Loader}

/** Source/sink contracts (reference `main.py:54-94,261-281`): suffix
  * validation, explicit schema, projection, header round-trip, single-file
  * CSV output, empty-result refusal.
  */
class ExtractorLoaderSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir = Files.createTempDirectory("graft-test").toString

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("city", StringType),
    StructField("n", LongType)))

  test("readCsv: header + explicit schema + projection; suffix guard") {
    val dir = tmpDir
    val p = s"$dir/test.csv"
    Files.writeString(Paths.get(p),
      "name,city,n\nJack,CO,1\nRiley,TX,2\nPam,TX,3\n")
    val df = Extractor.readCsv(spark, p, schema)
    assert(df.columns.toSeq == Seq("name", "city", "n"))
    assert(df.count() == 3)
    val projected = Extractor.readCsv(spark, p, schema, Seq("city", "n"))
    assert(projected.columns.toSeq == Seq("city", "n"))
    intercept[java.io.FileNotFoundException] {
      Extractor.readCsv(spark, s"$dir/test.txt", schema)
    }
    intercept[IllegalArgumentException] {
      Extractor.readCsv(spark, p, schema, Seq("nope"))
    }
  }

  test("requireNonEmpty raises on empty input (materialize guard parity)") {
    val dir = tmpDir
    val p = s"$dir/empty.csv"
    Files.writeString(Paths.get(p), "name,city,n\n")
    val df = Extractor.readCsv(spark, p, schema)
    intercept[IllegalArgumentException] { Extractor.requireNonEmpty(df) }
  }

  test("writeCsvSingle: exactly one .csv file, header, no index column, value round-trip") {
    val dir = tmpDir
    val out = s"$dir/animals.csv"
    val df = Seq(("falcon", 380.0), ("parrot", 24.0)).toDF("animal", "speed")
    assert(Loader.writeCsvSingle(df.orderBy("animal"), out))
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.get(0) == "animal,speed")
    assert(lines.get(1) == "falcon,380.0")
    assert(lines.size() == 3)
    intercept[java.io.FileNotFoundException] {
      Loader.writeCsvSingle(df, s"$dir/animals.parquet")
    }
    intercept[IllegalArgumentException] {
      Loader.writeCsvSingle(df.filter($"speed" > 999), s"$dir/none.csv")
    }
    // the guard leaves no output and no temp dir behind
    def exists(name: String) = Files.exists(Paths.get(s"$dir/$name"))
    assert(!exists("none.csv") && !exists("none.csv.spark-tmp"))
    // an empty result from a multi-partition plan (a header-only part
    // file) also throws, and a file already at the path keeps its bytes
    val prior = Files.readAllBytes(Paths.get(out))
    intercept[IllegalArgumentException] {
      Loader.writeCsvSingle(
        spark.range(0, 100, 1, 4).filter($"id" < 0).toDF(), out)
    }
    assert(Files.readAllBytes(Paths.get(out)).sameElements(prior))
    assert(!exists("animals.csv.spark-tmp"))
    // a plan that fails mid-job propagates its exception, leaves no residue
    val boom = org.apache.spark.sql.functions.udf { (id: Long) =>
      if (id == 42) throw new IllegalStateException("boom at 42"); id }
    val failed = intercept[Exception] {
      Loader.writeCsvSingle(
        spark.range(0, 100, 1, 4).select(boom($"id").as("id")),
        s"$dir/failed.csv")
    }
    assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("boom at 42")), failed)
    assert(!exists("failed.csv") && !exists("failed.csv.spark-tmp"))
  }

  test("writeCsvSingle evaluates its input plan exactly once") {
    val out = s"$tmpDir/once.csv"
    val rows = spark.sparkContext.longAccumulator("writeCsvSingle rows")
    // unsorted and multi-partition: a separate emptiness action would
    // evaluate (part of) the plan a second time and count rows twice
    val df = spark.range(0, 1000, 1, 8)
      .map { i => rows.add(1); i.longValue }.toDF("id")
    assert(Loader.writeCsvSingle(df, out))
    assert(rows.value == 1000L)
    assert(Files.readAllLines(Paths.get(out)).size == 1001)
  }

  /** A 4-partition frame with NULLs in its first sort key and unique
    * (k, v) pairs, so every ordering of it below is total. */
  private def unordered = spark.range(0, 240, 1, 4).select(
      expr("CASE WHEN id % 7 = 0 THEN NULL ELSE id % 5 END").as("k"),
      ($"id" * 37 % 240).as("v"), ($"id" % 3).cast("string").as("s"))

  /** The bytes of `df`'s own plan, its global sort included, written
    * through `coalesce(1)` as one part file. */
  private def coalescedBytes(df: DataFrame): Array[Byte] = {
    val dir = s"$tmpDir/coalesced"
    df.coalesce(1).write.option("header", "true").csv(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(part.length == 1)
    Files.readAllBytes(part.head.toPath)
  }

  test("writeCsvSingle sorts a top-level orderBy in its one task, same bytes") {
    val sorted = unordered.orderBy(col("k").desc_nulls_last, col("v"))
    val out = s"$tmpDir/sorted.csv"
    val (ok, rec) = JobRecorder.recorded(spark)(Loader.writeCsvSingle(sorted, out))
    assert(ok)
    assert(Files.readAllBytes(Paths.get(out)).sameElements(coalescedBytes(sorted)))
    val physical = rec.queries.map(_.executedPlan.toString).mkString("\n")
    assert(!physical.contains("rangepartitioning"), physical)
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.size == 241 && lines.get(1).startsWith("4,") &&
      lines.get(240).startsWith(","))
  }

  test("writeCsvSingle keeps the order of a sort below the top node") {
    val df = unordered.orderBy(col("v").desc).select(col("v"), col("s"))
    val out = s"$tmpDir/projected.csv"
    assert(Loader.writeCsvSingle(df, out))
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.get(0) == "v,s")
    assert(lines.subList(1, lines.size).toArray.toSeq.map(
      _.toString.takeWhile(_ != ',').toLong) == (239L to 0L by -1L))
  }

  test("parquet + json extractors read with projection") {
    val li = Extractor.readParquet(spark, s"$sf/lineitem.parquet",
      Seq("l_orderkey", "l_quantity"))
    assert(li.columns.toSeq == Seq("l_orderkey", "l_quantity"))
    assert(li.count() == 6000)
    val dir = tmpDir
    val jp = s"$dir/rows.json"
    Files.writeString(Paths.get(jp),
      """{"name":"a","city":"x","n":1}""" + "\n" +
      """{"name":"b","city":"y","n":2}""" + "\n")
    val js = Extractor.readJson(spark, jp, schema, Seq("name", "n"))
    assert(js.count() == 2)
    assert(js.columns.toSeq == Seq("name", "n"))
  }

  test("readJdbc: pushed filters and range-partitioned parallel read") {
    // embedded in-memory Derby (ships with Spark) stands in for the
    // Postgres source the reference README muses about
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE items (id BIGINT PRIMARY KEY, v INT)")
      val ps = conn.prepareStatement("INSERT INTO items VALUES (?, ?)")
      for (i <- 0 until 100) {
        ps.setLong(1, i.toLong); ps.setInt(2, i % 10)
        ps.addBatch()
      }
      ps.executeBatch()

      val full = Extractor.readJdbc(spark, url, "items")
      assert(full.count() == 100)

      // filter + projection push into the generated SQL: the database
      // prunes, the cluster never sees non-matching rows
      val filtered = Extractor.readJdbc(spark, url, "items")
        .filter($"V" > 7).select($"ID")
      val scan = filtered.queryExecution.executedPlan.toString
      assert(scan.contains("PushedFilters") && scan.contains("GreaterThan"),
        s"filter not pushed to JDBC source:\n$scan")
      assert(filtered.count() == 20)

      // range partitioning: one bounded query per partition
      val part = Extractor.readJdbc(spark, url, "items",
        partitioning = Some(Extractor.JdbcPartitioning("id", 0L, 100L, 4)))
      assert(part.rdd.getNumPartitions == 4)
      assert(part.count() == 100)

      // sink round-trip: write a derived table back, read it again
      Loader.writeJdbc(full.filter($"V" >= 5), url, "items_hi")
      val back = Extractor.readJdbc(spark, url, "items_hi")
      assert(back.count() == 50)
      assert(back.agg(org.apache.spark.sql.functions.min($"V")).head().getInt(0) == 5)

      intercept[IllegalArgumentException] {
        Extractor.readJdbc(spark, url, "items",
          partitioning = Some(Extractor.JdbcPartitioning("id", 5L, 5L, 4)))
      }
    } finally {
      try conn.close() finally {
        // drop the in-memory db so reruns in the same JVM start clean
        try java.sql.DriverManager.getConnection(
          "jdbc:derby:memory:graftjdbc;drop=true")
        catch { case _: java.sql.SQLException => () } // drop always "fails"
      }
    }
  }

  test("orc round-trip with pushed filters and pruned schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val src = (1 to 100).map(i => (i.toLong, s"name$i", i % 7)).toDF("id", "name", "grp")
    Loader.writeOrc(src, dir)
    val back = Extractor.readOrc(spark, dir, columns = Seq("id", "grp"))
      .filter($"grp" === 3)
    assert(back.columns.toSeq == Seq("id", "grp"))
    assert(back.count() == 14)
    // the filter and projection must reach the ORC scan node
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(grp), EqualTo(grp,3)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint,grp:int>"),
      s"schema not pruned:\n$plan")
  }

  test("binaryFile ingestion: glob filter, size guard, content bytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bin")
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    put("a.png", Array[Byte](0x50, 0x4e, 0x47, 1, 2, 3))
    put("b.png", Array.fill[Byte](64)(7))
    put("skip.txt", "not media".getBytes)
    val all = Extractor.readBinaryFiles(spark, dir.toString,
                                        pathGlob = Some("*.png"))
    val rows = all.select("path", "length", "content")
      .collect().map(r => (new java.io.File(r.getString(0)).getName,
                           r.getLong(1), r.getAs[Array[Byte]](2)))
      .sortBy(_._1).toSeq
    assert(rows.map(_._1) == Seq("a.png", "b.png"), "glob must exclude .txt")
    assert(rows.head._2 == 6L &&
           rows.head._3.toSeq == Seq[Byte](0x50, 0x4e, 0x47, 1, 2, 3))
    // the size guard drops files ABOVE the cap, keeps those at/below it
    val capped = Extractor.readBinaryFiles(spark, dir.toString,
                                           pathGlob = Some("*.png"),
                                           maxBytes = 6L)
    assert(capped.select("path").collect().map(_.getString(0))
      .map(p => new java.io.File(p).getName).toSeq == Seq("a.png"))
  }

  test("writeParquetZordered: per-file footers tight on BOTH columns") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir
    val orders = Tables.orders(spark, sf).select(
      expr("CAST(datediff(o_orderdate, DATE'1992-01-01') AS BIGINT)")
        .as("xd"),
      col("o_custkey"))
    Loader.writeParquetZordered(orders, dir, numFiles = 16,
      xCol = "xd", yCol = "o_custkey")
    val stats = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"),
        (max($"xd") - min($"xd") + lit(1L)).as("ext_x"),
        (max($"o_custkey") - min($"o_custkey") + lit(1L)).as("ext_y"))
      .collect()
    assert(stats.length == 16)
    assert(stats.map(_.getAs[Long]("n")).sum ==
      Tables.orders(spark, sf).count()) // nothing lost in the rewrite
    val custDomain = orders.agg(max($"o_custkey")).head.getLong(0)
    val dateDomain = orders.agg(max($"xd")).head.getLong(0) + 1
    // the Z-order contract: EVERY file's extent is a strict sub-range
    // of BOTH domains (a linear date sort would leave ext_y ≈ domain in
    // every file; a custkey sort would leave ext_x ≈ domain)
    val sumY = stats.map(_.getAs[Long]("ext_y")).sum
    val sumX = stats.map(_.getAs[Long]("ext_x")).sum
    assert(sumY * 2 < stats.length * custDomain,
      s"sumY=$sumY files=${stats.length} domain=$custDomain")
    assert(sumX * 2 < stats.length * dateDomain,
      s"sumX=$sumX files=${stats.length} domain=$dateDomain")
  }

  test("readCsvRobust: PERMISSIVE quarantines, DROPMALFORMED drops, FAILFAST throws") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-robust")
    val f = dir.resolve("rows.csv")
    // the bad row is STRUCTURALLY malformed (extra column):
    // type-conversion failures are nulled in place by the CSV parser,
    // only token-count violations take the malformed-row path in every
    // mode consistently
    java.nio.file.Files.writeString(f,
      "id,amount\n1,10.5\n2,NOT_A_NUMBER,extra\n3,30.0\n")
    val schema = StructType(Seq(StructField("id", LongType),
                                StructField("amount", DoubleType)))
    val perm = graft.sources.Extractor.readCsvRobust(
      spark, f.toString, schema).cache()
    assert(perm.count() === 3)
    val bad = perm.filter(org.apache.spark.sql.functions.col("_corrupt_record").isNotNull)
      .collect().map(_.getString(2))
    assert(bad.toSeq === Seq("2,NOT_A_NUMBER,extra"),
      "bad row must survive with the raw line quarantined")
    val dropped = graft.sources.Extractor.readCsvRobust(
      spark, f.toString, schema, mode = "DROPMALFORMED")
    // collect FULL rows: CSV column pruning would otherwise parse only
    // the projected column and never notice the malformed tail
    assert(dropped.collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 3L))
    val strict = graft.sources.Extractor.readCsvRobust(
      spark, f.toString, schema, mode = "FAILFAST")
    intercept[org.apache.spark.SparkException] { strict.collect() }
    intercept[IllegalArgumentException] {
      graft.sources.Extractor.readCsvRobust(spark, f.toString, schema,
        mode = "LENIENT")
    }
  }
}
