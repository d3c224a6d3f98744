package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, GreaterThanOrEqual, IsNull, LessThan, LessThanOrEqual, Or}
import org.apache.spark.sql.types._

import graft.io.{ParquetUpsertSink, UpsertColumnarPartitionReader, UpsertDataSkipping, UpsertFilePartition}

/** Min/max data skipping in the graft-upsert scan: file-level pruning
  * at planning time (footer stats drop provably-empty files from the
  * plan), row-group filtering at read time (the vectorized reader),
  * and the correctness stance that skipping never changes an answer —
  * including on evolved schemas, null-bearing columns, and with the
  * feature switched off.
  */
class UpsertDataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** Four partitions, one file each, with DISJOINT ranges of `v`
    * (p0: 0-99, p1: 100-199, p2: 200-299, p3: 300-399).
    */
  private def rangedTable(prefix: String): String = {
    val dir = tmp(prefix)
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
    val rows = (0L until 400L).map(i => (i, 1L, i, s"p${i / 100}"))
    sink.upsert(rows.toDF("id", "seq", "v", "p"), 0)
    dir
  }

  test("file-level pruning: a selective residual predicate plans only matching files") {
    val dir = rangedTable("skipfile")
    val all = spark.read.format("graft-upsert").load(dir)
    assert(all.rdd.getNumPartitions == 4)
    // equality inside one file's [min, max]: one file planned
    val one = spark.read.format("graft-upsert").load(dir).where($"v" === 250L)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.select("id").as[Long].collect().toSeq == Seq(250L))
    // range predicate spanning two files
    val two = spark.read.format("graft-upsert").load(dir)
      .where($"v" >= 150L && $"v" < 220L)
    assert(two.rdd.getNumPartitions == 2)
    assert(two.count() == 70)
    // OR keeps every file that might match EITHER branch
    val orQ = spark.read.format("graft-upsert").load(dir)
      .where($"v" === 50L || $"v" === 350L)
    assert(orQ.rdd.getNumPartitions == 2)
    assert(orQ.select("id").as[Long].collect().toSet == Set(50L, 350L))
    // a provably-empty predicate plans nothing at all
    val none = spark.read.format("graft-upsert").load(dir).where($"v" > 1000L)
    assert(none.rdd.getNumPartitions == 0)
    assert(none.count() == 0)
  }

  test("skipping composes with partition pruning and never changes answers") {
    val dir = rangedTable("skipcompose")
    val q = spark.read.format("graft-upsert").load(dir)
      .where($"p" === "p2" && $"v" < 250L)
    assert(q.rdd.getNumPartitions == 1)
    assert(q.count() == 50)
    // parity against the same predicate with skipping disabled
    spark.conf.set(graft.io.UpsertTableSource.DataSkippingConfKey, "false")
    try {
      val off = spark.read.format("graft-upsert").load(dir).where($"v" === 250L)
      assert(off.rdd.getNumPartitions == 4) // no file pruning
      assert(off.select("id").as[Long].collect().toSeq == Seq(250L))
    } finally spark.conf.unset(graft.io.UpsertTableSource.DataSkippingConfKey)
  }

  test("evolved columns: value predicates prune pre-evolution files, IS NULL keeps them") {
    val dir = tmp("skipevolve")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
    sink.upsert(Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "seq", "p"), 0)
    // additive evolution: later batch carries `score`
    sink.upsert(Seq((3L, 1L, 9.5, "c")).toDF("id", "seq", "score", "p"), 1)
    val byScore = spark.read.format("graft-upsert").load(dir).where($"score" > 1.0)
    // pre-evolution files are all-null in `score` — provably empty
    assert(byScore.rdd.getNumPartitions == 1)
    assert(byScore.select("id").as[Long].collect().toSeq == Seq(3L))
    val nulls = spark.read.format("graft-upsert").load(dir).where($"score".isNull)
    // pre-evolution files kept (all-null), the evolved file pruned by
    // its zero null count
    assert(nulls.rdd.getNumPartitions == 2)
    assert(nulls.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("null-bearing columns: IS NOT NULL prunes all-null files only") {
    val dir = tmp("skipnull")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
    sink.upsert(Seq(
      (1L, 1L, Some(5.0), "a"), (2L, 1L, None, "a"),
      (3L, 1L, Option.empty[Double], "b"), (4L, 1L, None, "b")
    ).toDF("id", "seq", "amount", "p"), 0)
    val notNull = spark.read.format("graft-upsert").load(dir).where($"amount".isNotNull)
    assert(notNull.rdd.getNumPartitions == 1) // p=b is all-null: pruned
    assert(notNull.select("id").as[Long].collect().toSeq == Seq(1L))
    // a value predicate also skips the all-null file
    val v = spark.read.format("graft-upsert").load(dir).where($"amount" > 1.0)
    assert(v.rdd.getNumPartitions == 1)
    assert(v.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("timestamp and date predicates prune via decoded footer stats") {
    val dir = tmp("skipts")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def d(s: String) = java.sql.Date.valueOf(s)
    sink.upsert(Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), d("2024-01-01"), "a"),
      (2L, 1L, ts("2024-01-02 10:00:00"), d("2024-01-02"), "a"),
      (3L, 1L, ts("2024-06-01 10:00:00"), d("2024-06-01"), "b"),
      (4L, 1L, ts("2024-06-02 10:00:00"), d("2024-06-02"), "b")
    ).toDF("id", "seq", "ts", "day", "p"), 0)
    val byTs = spark.read.format("graft-upsert").load(dir)
      .where($"ts" > lit(ts("2024-03-01 00:00:00")))
    assert(byTs.rdd.getNumPartitions == 1)
    assert(byTs.select("id").as[Long].collect().toSet == Set(3L, 4L))
    val byDay = spark.read.format("graft-upsert").load(dir)
      .where($"day" === lit(d("2024-01-02")))
    assert(byDay.rdd.getNumPartitions == 1)
    assert(byDay.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("Z-ordered file: row groups are skipped at read time (FilterCompat)") {
    // one partition, one file, MANY row groups: small parquet block
    // size + sorted order make per-row-group [min, max] tight tiles
    val dir = tmp("skiprg")
    val n = 200000L
    (0L until n).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).sortWithinPartitions("v")
      .write.option("parquet.block.size", 64 * 1024)
      .parquet(s"$dir/p=a")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = fs.listStatus(new Path(s"$dir/p=a")).map(_.getPath)
      .find(_.getName.startsWith("part-")).get
    val conf = spark.sessionState.newHadoopConf()
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val (totalGroups, fileSchema) =
      try (footer.getFooter.getBlocks.size(), footer.getFooter.getFileMetaData.getSchema)
      finally footer.close()
    assert(totalGroups > 4, s"fixture must span row groups, got $totalGroups")
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", LongType)))
    val pred = UpsertDataSkipping.parquetPredicate(
      Seq(EqualTo("v", 12345L)), fileSchema, schema).get
    // row-group-level proof: opening with the filter exposes FEWER
    // row groups than the file holds — whole groups never decode
    val opts = org.apache.parquet.ParquetReadOptions.builder()
      .withRecordFilter(FilterCompat.get(pred)).build()
    val filtered = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf), opts)
    val kept = try filtered.getRowGroups.size() finally filtered.close()
    assert(kept < totalGroups, s"expected skipping, kept $kept of $totalGroups")
    assert(kept >= 1)
    // reader-level proof: the connector's reader decodes only the kept
    // row groups, fewer rows than the file holds, and the match among
    // them (Spark re-applies the filter to the rows served)
    val reader = new UpsertColumnarPartitionReader(
      UpsertFilePartition(file.toString, "a"), schema, None, conf,
      Array(EqualTo("v", 12345L)))
    var rows = 0L
    var matched = false
    try while (reader.next()) {
      val batch = reader.get()
      rows += batch.numRows()
      val v = batch.column(1)
      matched ||= (0 until batch.numRows()).exists(i => v.getLong(i) == 12345L)
    } finally reader.close()
    assert(rows < n, s"expected skipped row groups, served $rows of $n rows")
    assert(matched)
  }

  test("skipping composes with time travel (archived pre-images prune too)") {
    val dir = tmp("skipasof")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p", keepVersions = 3)
    val rows = (0L until 200L).map(i => (i, 1L, i, s"p${i / 100}"))
    sink.upsert(rows.toDF("id", "seq", "v", "p"), 0)
    // commit 1 doubles v in p0 — as-of commit 0 must see the ORIGINAL
    sink.upsert(rows.filter(_._4 == "p0").map { case (id, _, v, p) => (id, 2L, v + 1000, p) }
      .toDF("id", "seq", "v", "p"), 1)
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    val asOf = spark.read.format("graft-upsert").option("asOf", commits.head).load(dir)
      .where($"v" === 150L)
    assert(asOf.rdd.getNumPartitions == 1) // archived p0 pre-image pruned by stats
    assert(asOf.select("id").as[Long].collect().toSeq == Seq(150L))
    val asOfLow = spark.read.format("graft-upsert").option("asOf", commits.head).load(dir)
      .where($"v" === 50L)
    assert(asOfLow.select("id").as[Long].collect().toSeq == Seq(50L))
  }

  test("randomized parity: skipping never changes answers vs the plain parquet scan") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val dir = tmp("skipprop")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
    val rows = (0 until 400).map { i =>
      (i.toLong, 1L,
        if (i % 7 == 0) None else Some((i % 50).toLong),
        if (i % 11 == 0) None else Some((i % 30) * 1.5),
        if (i % 5 == 0) None else Some(s"s${i % 20}"),
        s"p${i % 4}")
    }
    sink.upsert(rows.toDF("id", "seq", "v", "d", "s", "p"), 0)
    val atom: Gen[org.apache.spark.sql.Column] = Gen.oneOf(
      Gen.chooseNum(0L, 55L).map($"v" === _),
      Gen.chooseNum(0L, 55L).map($"v" > _),
      Gen.chooseNum(0L, 55L).map($"v" <= _),
      Gen.const($"v".isNull),
      Gen.const($"v".isNotNull),
      Gen.chooseNum(0, 50).map(x => $"d" > x * 1.0),
      Gen.chooseNum(0, 50).map(x => $"d" === x * 1.5),
      Gen.chooseNum(0, 25).map(x => $"s" === s"s$x"),
      Gen.const($"s".isNull),
      Gen.const($"s".isNotNull),
      Gen.const($"s" <=> lit(null: String)),
      Gen.chooseNum(0, 25).map(x => $"s" <=> s"s$x"),
      Gen.listOfN(3, Gen.chooseNum(0L, 55L)).map(ks => $"v".isin(ks: _*)),
      Gen.chooseNum(0, 3).map(x => $"p" === s"p$x"))
    val pred: Gen[org.apache.spark.sql.Column] = Gen.oneOf(
      atom,
      Gen.zip(atom, atom).map { case (a, b) => a && b },
      Gen.zip(atom, atom).map { case (a, b) => a || b },
      Gen.zip(atom, atom, atom).map { case (a, b, c) => (a && b) || c })
    val preds = (0 until 40).flatMap(i =>
      pred.apply(Gen.Parameters.default, Seed(1000L + i)))
    val v2 = spark.read.format("graft-upsert").load(dir)
    val v1 = spark.read.parquet(dir)
    preds.foreach { c =>
      val a = v2.filter(c).select("id").as[Long].collect().sorted.toSeq
      val b = v1.filter(c).select("id").as[Long].collect().sorted.toSeq
      assert(a == b, s"predicate $c: connector $a vs parquet $b")
    }
  }

  test("file pruner semantics directly: shapes, Or, unknown stats keep the file") {
    val schema = StructType(Seq(StructField("v", LongType)))
    def stats(mn: Long, mx: Long, nulls: Long = 0, values: Long = 100) =
      UpsertDataSkipping.FileStats(
        Map("v" -> UpsertDataSkipping.ColStats(Some(mn), Some(mx), Some(nulls),
          values, decodable = true)),
        Set("v"))
    val s = stats(100L, 199L)
    def might(f: org.apache.spark.sql.sources.Filter) =
      UpsertDataSkipping.fileMightMatch(s, Seq(f), schema)
    assert(!might(EqualTo("v", 50L)) && might(EqualTo("v", 150L)))
    assert(!might(GreaterThan("v", 199L)) && might(GreaterThan("v", 198L)))
    assert(!might(LessThan("v", 100L)) && might(LessThan("v", 101L)))
    assert(might(Or(EqualTo("v", 50L), EqualTo("v", 150L))))
    assert(!might(Or(EqualTo("v", 50L), EqualTo("v", 250L))))
    assert(!might(IsNull("v"))) // zero nulls recorded
    // unknown stats: never prune
    val unknown = UpsertDataSkipping.FileStats(Map.empty, Set("v"))
    assert(UpsertDataSkipping.fileMightMatch(unknown, Seq(EqualTo("v", 5L)), schema))
    // absent column (pre-evolution file): value predicates prove empty
    val absent = UpsertDataSkipping.FileStats(Map.empty, Set("other"))
    assert(!UpsertDataSkipping.fileMightMatch(absent, Seq(EqualTo("v", 5L)), schema))
    assert(UpsertDataSkipping.fileMightMatch(absent, Seq(IsNull("v")), schema))
  }

  test("float pruning honors primitive semantics: NaN literals never prune, ±0.0 are one value") {
    val schema = StructType(Seq(StructField("v", DoubleType)))
    def stats(mn: Double, mx: Double) =
      UpsertDataSkipping.FileStats(
        Map("v" -> UpsertDataSkipping.ColStats(Some(mn), Some(mx), Some(0L),
          100L, decodable = true)),
        Set("v"))
    def might(s: UpsertDataSkipping.FileStats,
        f: org.apache.spark.sql.sources.Filter) =
      UpsertDataSkipping.fileMightMatch(s, Seq(f), schema)
    // Spark never pushes NaN predicates to parquet; the pruner must
    // refuse them too (a non-conforming writer's stats may omit NaN)
    assert(might(stats(1.0, 5.0), EqualTo("v", Double.NaN)))
    assert(might(stats(1.0, 5.0), GreaterThan("v", Double.NaN)))
    // -0.0 == 0.0 in Spark's primitive comparisons; the stat layer's
    // total order distinguishes them — both sides must normalize
    assert(might(stats(-0.0, -0.0), EqualTo("v", 0.0)))
    assert(might(stats(-0.0, -0.0), GreaterThanOrEqual("v", 0.0)))
    assert(might(stats(0.0, 0.0), EqualTo("v", -0.0)))
    assert(might(stats(0.0, 0.0), LessThanOrEqual("v", -0.0)))
    // ordinary exclusions still prune
    assert(!might(stats(1.0, 5.0), EqualTo("v", 9.0)))
    assert(!might(stats(1.0, 5.0), GreaterThan("v", 5.0)))
  }

  test("nested group columns: footer stats resolve by column path, not field position") {
    // a file whose leaf-column order diverges from its top-level field
    // order: fields are (s struct<a,b>, v) but the leaves are
    // (s.a, s.b, v) — a positional getColumns lookup for v (field index
    // 1) would read s.b's statistics and prune UNSOUNDLY. The path-based
    // resolution must return v's true range and, for the struct field
    // itself, degrade to "no stats".
    val dir = tmp("skipnested")
    val df = spark.range(100, 200)
      .select(struct((col("id") * 1000).as("a"), lit(7L).as("b")).as("s"),
        col("id").as("v"))
    df.coalesce(1).write.parquet(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = fs.globStatus(new Path(s"$dir/part-*")).head.getPath
    val readSchema = StructType(Seq(
      StructField("s", StructType(Seq(
        StructField("a", LongType), StructField("b", LongType)))),
      StructField("v", LongType)))
    val st = UpsertDataSkipping.fileStats(fs, file, readSchema,
      spark.sparkContext.hadoopConfiguration)
    val vStats = st.cols("v")
    assert(vStats.decodable)
    assert(vStats.min.contains(100L) && vStats.max.contains(199L))
    // the struct field has no single leaf chunk: unusable, never pruned on
    assert(!st.cols("s").decodable)
    // the pruning decision the misresolution would get wrong: v=150 is in
    // range (s.b's stats would claim [7,7] and prune it)
    val vOnly = StructType(Seq(StructField("v", LongType)))
    assert(UpsertDataSkipping.fileMightMatch(st, Seq(EqualTo("v", 150L)), vOnly))
    assert(!UpsertDataSkipping.fileMightMatch(st, Seq(EqualTo("v", 7L)), vOnly))
  }
}
