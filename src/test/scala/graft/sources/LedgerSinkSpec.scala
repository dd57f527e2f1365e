package graft.sources

import graft.FixtureDirs
import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 sink's four contracts: staged-manifest atomicity (a failed
  * job — even mid-overwrite — leaves the previous version readable and no
  * partial data visible), append/truncate manifest semantics, the
  * RequiresDistributionAndOrdering layout guarantee (each cluster key in
  * exactly ONE file, rows sorted within), and the read-back path with
  * column pruning. */
class LedgerSinkSpec extends AnyFunSuite with FixtureDirs {
  private lazy val spark = graft.SparkFixture.spark
  private val Fmt = "graft.sources.LedgerSink"

  private def sample(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong % 7, f"s${i % 13}%03d", i * 1.5,
        i % 2 == 0, if (i % 11 == 0) None else Some(i))
    }.toDF("k", "s", "v", "b", "i")
  }

  private def readBack(dir: String): DataFrame =
    spark.read.format(Fmt).option("path", dir).load()

  private def asSet(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
      r.getBoolean(3), if (r.isNullAt(4)) null else r.getInt(4))).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap

  test("roundtrip: written rows (incl. nulls) read back exactly; schema from manifest") {
    val dir = fixtureDir("rt")
    val df = sample(200)
    df.write.format(Fmt).option("path", dir)
      .option("clusterBy", "k").option("orderBy", "s")
      .mode(SaveMode.Append).save()
    val got = readBack(dir)
    // manifest DDL preserves names, types AND the source's nullability
    assert(got.schema.map(f => (f.name, f.dataType, f.nullable)) == Seq(
      ("k", LongType, false), ("s", StringType, true), ("v", DoubleType, false),
      ("b", BooleanType, false), ("i", IntegerType, true)))
    assert(asSet(got.select("k", "s", "v", "b", "i")) == asSet(df))
  }

  test("RequiresDistributionAndOrdering: each cluster key in exactly one file, sorted within") {
    val dir = fixtureDir("layout")
    sample(500).repartition(8) // adversarial incoming layout
      .write.format(Fmt).option("path", dir)
      .option("clusterBy", "k").option("orderBy", "s")
      .mode(SaveMode.Append).save()
    val manifest = LedgerSink.readManifest(dir).get
    val schema = StructType.fromDDL(manifest.schemaDdl)
    val perFile: Seq[Seq[(Long, String)]] = manifest.files.map { case (f, _) =>
      val rd = new LedgerReader(new File(dir, f), schema, schema)
      val rows = Iterator.continually(rd)
        .takeWhile(_.next())
        .map(r => (r.get().getLong(0), r.get().getUTF8String(1).toString))
        .toList
      rd.close()
      rows
    }
    // 1. clustered: no key spans two files
    val filesPerKey = perFile.zipWithIndex
      .flatMap { case (rows, fi) => rows.map(_._1).distinct.map(_ -> fi) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size)
    assert(filesPerKey.values.forall(_ == 1),
      s"keys spanning files: ${filesPerKey.filter(_._2 > 1)}")
    // 2. ordered: (k, s) non-decreasing within each file
    perFile.foreach { rows =>
      assert(rows == rows.sortBy(identity), s"file not sorted: ${rows.take(5)}")
    }
    // 3. nothing lost by the re-layout
    assert(perFile.map(_.size).sum == 500)
  }

  test("atomic commit: a failed overwrite leaves the previous version fully readable") {
    val dir = fixtureDir("abort")
    val v1 = sample(100)
    v1.write.format(Fmt).option("path", dir).option("clusterBy", "k")
      .mode(SaveMode.Append).save()
    val before = asSet(readBack(dir))
    val manifestBefore = Files.readAllBytes(new File(dir, "manifest.json").toPath).toSeq

    // poison value 3 exists in k: some task throws mid-write
    val ex = intercept[Exception] {
      sample(100).write.format(Fmt).option("path", dir)
        .option("clusterBy", "k").option("poisonValue", "3")
        .mode(SaveMode.Overwrite).save()
    }
    assert(ex.toString.contains("poisoned") ||
      Option(ex.getCause).exists(_.toString.contains("poisoned")) ||
      ex.getMessage.contains("aborted"), ex.toString)

    // old version intact, manifest byte-identical, no stray staged files
    assert(asSet(readBack(dir)) == before)
    assert(Files.readAllBytes(new File(dir, "manifest.json").toPath).toSeq
      == manifestBefore)
    val visible = LedgerSink.readManifest(dir).get.files.map(_._1).toSet
    val onDisk = new File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".ledger")).toSet
    assert(onDisk == visible, s"staged leftovers: ${onDisk -- visible}")
  }

  test("append unions manifests; overwrite truncates and GCs unreferenced files") {
    val dir = fixtureDir("modes")
    sample(50).write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    sample(50).write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    assert(readBack(dir).count() == 100)

    val small = sample(10)
    small.write.format(Fmt).option("path", dir).mode(SaveMode.Overwrite).save()
    assert(asSet(readBack(dir)) == asSet(small))
    val visible = LedgerSink.readManifest(dir).get.files.map(_._1).toSet
    val onDisk = new File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".ledger")).toSet
    assert(onDisk == visible, s"old-version files not GC'd: ${onDisk -- visible}")
  }

  test("read path prunes columns and survives projection reordering") {
    val dir = fixtureDir("prune")
    sample(60).write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val got = readBack(dir).select(col("i"), col("k"))
      .collect().map(r => (if (r.isNullAt(0)) null else r.getInt(0), r.getLong(1)))
      .toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val want = sample(60).select(col("i"), col("k"))
      .collect().map(r => (if (r.isNullAt(0)) null else r.getInt(0), r.getLong(1)))
      .toSeq.groupBy(identity).view.mapValues(_.size).toMap
    assert(got == want)
    // the scan's declared read schema is the pruned one
    val scanDesc = readBack(dir).select("k").queryExecution.executedPlan.toString
    assert(scanDesc.contains("ReadSchema") || scanDesc.contains("Ledger"), scanDesc.take(800))
  }

  test("COUNT(*) is answered from the manifest with zero data files opened") {
    val dir = fixtureDir("countpush")
    sample(300).repartition(5).write.format(Fmt).option("path", dir)
      .mode(SaveMode.Append).save()
    val df = readBack(dir)
    assert(df.count() == 300)
    // the proof: destroy every data file; the manifest-only count still
    // answers, while any row-reading query fails
    new File(dir).listFiles().filter(_.getName.endsWith(".ledger"))
      .foreach(f => assert(f.delete()))
    assert(readBack(dir).count() == 300)
    val plan = readBack(dir).groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("pushedAgg=[COUNT(*) from manifest]"), plan.take(1200))
    intercept[Exception] { readBack(dir).select("k").collect() }
    // counts with a filter must NOT be manifest-answered (and now throw,
    // since they genuinely need the deleted rows)
    intercept[Exception] { readBack(dir).filter(col("k") > 2).count() }
  }

  test("manifest statistics: exact rows + on-disk bytes, and an unhinted join auto-broadcasts") {
    val dir = fixtureDir("stats")
    sample(200).repartition(3).write.format(Fmt).option("path", dir)
      .mode(SaveMode.Append).save()
    val df = readBack(dir)
    val stats = df.queryExecution.optimizedPlan.stats
    val manifest = LedgerSink.readManifest(dir).get
    assert(manifest.files.map(_._2).sum == 200L)
    val diskBytes = manifest.files
      .map { case (f, _) => new java.io.File(dir, f).length() }.sum
    // full-width read: the estimate IS the manifest-listed disk bytes
    assert(stats.sizeInBytes == BigInt(diskBytes))
    // contains, not forall: None (row count silently dropped) must FAIL
    assert(stats.rowCount.contains(BigInt(200)))
    // column pruning prorates the width downward
    val pruned = df.select("k").queryExecution.optimizedPlan.stats.sizeInBytes
    assert(pruned < BigInt(diskBytes) && pruned > 0)
    // the broadcast flip: a stats-small ledger table wins the build side
    // of an UNHINTED equi join (pre-stats it reported Long.Max and never
    // could)
    val fact = graft.ops.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(pmod(col("l_orderkey"), lit(7L)).as("fk"))
    val plan = fact.join(df.select(col("k"), col("v")), col("fk") === col("k"))
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("unsupported column types are rejected loudly at table resolution") {
    import spark.implicits._
    val dir = fixtureDir("types")
    val bad = Seq((1L, Array(1.0f))).toDF("k", "emb")
    val ex = intercept[Exception] {
      bad.write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    assert(ex.toString.contains("supports") ||
      Option(ex.getCause).exists(_.toString.contains("supports")), ex.toString)
  }
}
