package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import graft.table.LakeTable

/** File-granular copy-on-write DML, checked against a full-rewrite model.
  * Seeded random sequences of upsert, upsertWithDelete, delete and update
  * run on a multi-file unpartitioned table (key-range files) and on a
  * two-level-partitioned change-feed table. After every step: the
  * snapshot, `readVersion(v - 1)` and `changesSince(v - 1)` equal the
  * model; every file the exact `_metadata.file_path` probe finds holding
  * a touched row was rewritten; and every file the new version shares by
  * name with the previous one is a hard link to it. */
class FileGranularDmlSpec extends SparkSpec {
  import spark.implicits._

  private type R = (Long, String, Long, Int, Int) // id, v, n, y, m
  private val Cols = Seq("id", "v", "n", "y", "m")

  private def freshRoot: String =
    Files.createTempDirectory(Paths.get(tablesRoot), "filedml").toString

  private def frame(rs: Seq[R]): DataFrame = rs.toDF(Cols: _*)

  private def snapshot(df: DataFrame): Set[R] =
    df.select(Cols.map(col): _*).as[R].collect().toSet

  private def inode(p: Path): Any = Files.getAttribute(p, "unix:ino")

  /** Data files of a version dir, relative path -> inode. */
  private def files(dir: Path): Map[String, Any] =
    LakeTable.dataFiles(dir).map(f => f -> inode(dir.resolve(f))).toMap

  /** The exact set of the current version's files holding a row that
    * matches `rows` (a semi-join on `_metadata.file_path`), as inodes. */
  private def holding(t: LakeTable, rows: DataFrame): Set[Any] =
    t.read.select(col("id"), col("_metadata.file_path").as("f"))
      .join(rows.select("id"), Seq("id"), "left_semi")
      .select("f").distinct().as[String].collect()
      .map(u => inode(Paths.get(new java.net.URI(u)))).toSet

  /** The model's events between two snapshots (a single write). */
  private def events(before: Map[Long, R], after: Map[Long, R]): Set[(R, String)] =
    (after.keySet ++ before.keySet).toSeq.flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some(a))             => Seq(a -> "insert")
        case (Some(b), None)             => Seq(b -> "delete")
        case (Some(b), Some(a)) if a != b =>
          Seq(b -> "update_preimage", a -> "update_postimage")
        case _                           => Nil
      }
    }.toSet

  private final case class Op(name: String, run: LakeTable => Unit,
      apply: Map[Long, R] => Map[Long, R], touched: DataFrame)

  /** One random op over the model `m` (keys are even in the initial
    * load; odd keys fill gaps, keys above the max append). */
  private def randomOp(rnd: scala.util.Random, m: Map[Long, R], step: Int): Op = {
    val keys = m.keys.toIndexedSeq.sorted
    val top = keys.last
    def row(id: Long) = (id, s"s$step", rnd.nextInt(1000).toLong,
      (id % 3).toInt + (if (rnd.nextInt(4) == 0) 1 else 0), (id % 2).toInt)
    def batch = {
      val upd = Seq.fill(6)(keys(rnd.nextInt(keys.size)))
      val gap = Seq.fill(3)(keys(rnd.nextInt(keys.size)) + 1)
      val app = (1 to 5).map(top + 2L * _)
      (upd ++ gap ++ app).distinct.map(row)
    }
    rnd.nextInt(4) match {
      case 0 =>
        val b = batch
        Op("upsert", _.upsert(frame(b)), _ ++ b.map(r => r._1 -> r), frame(b))
      case 1 =>
        val b = batch.zipWithIndex.map { case (r, i) => if (i % 3 == 0) r.copy(_2 = "DEL") else r }
        val (dels, ups) = b.partition(_._2 == "DEL")
        Op("upsertWithDelete", _.upsertWithDelete(frame(b), col("v") === "DEL"),
          s => s -- dels.map(_._1) ++ ups.map(r => r._1 -> r), frame(b))
      case 2 =>
        val lo = keys(rnd.nextInt(keys.size)); val hi = lo + 40
        val cond: Column = col("id").between(lo, hi)
        Op("delete", _.delete(cond), _.filterNot { case (k, _) => k >= lo && k <= hi },
          m.keys.filter(k => k >= lo && k <= hi).toSeq.toDF("id"))
      case _ =>
        val lo = keys(rnd.nextInt(keys.size)); val hi = lo + 20
        Op("update", _.update(col("id").between(lo, hi), Map("n" -> (col("n") + 1))),
          _.map { case (k, r) => k -> (if (k >= lo && k <= hi) r.copy(_3 = r._3 + 1) else r) },
          m.keys.filter(k => k >= lo && k <= hi).toSeq.toDF("id"))
    }
  }

  /** Run `steps` seeded random ops on `t` (created from `base`), checking
    * each against the model; returns the number of files hard-linked. */
  private def runModel(t: LakeTable, base: Seq[R], seed: Int, steps: Int): Int = {
    var model = base.map(r => r._1 -> r).toMap
    val rnd = new scala.util.Random(seed)
    var linked = 0
    for (step <- 1 to steps) {
      val op = randomOp(rnd, model, step)
      val before = model
      val donor = t.currentDir
      val donorFiles = files(donor)
      val exact = holding(t, op.touched)
      op.run(t)
      model = op.apply(model)
      val v = t.version
      assert(snapshot(t.read) == model.values.toSet, s"step $step ${op.name}: snapshot")
      assert(snapshot(t.readVersion(v - 1)) == before.values.toSet,
        s"step $step ${op.name}: readVersion(v - 1)")
      val changes = t.changesSince(v - 1)
        .select((Cols :+ "_change_type").map(col): _*)
        .as[(Long, String, Long, Int, Int, String)].collect()
        .map(e => (e._1, e._2, e._3, e._4, e._5) -> e._6).toSet
      assert(changes == events(before, model), s"step $step ${op.name}: changesSince")
      val now = files(t.currentDir)
      val nowInodes = now.values.toSet
      assert(exact.forall(i => !nowInodes.contains(i)),
        s"step $step ${op.name}: a file holding a touched key was linked, not rewritten")
      now.foreach { case (f, i) =>
        donorFiles.get(f).foreach(d => assert(d == i, s"step $step: $f re-written under its old name"))
      }
      linked += now.count { case (f, i) => donorFiles.get(f).contains(i) }
    }
    linked
  }

  private def evenBase(n: Int): Seq[R] =
    new scala.util.Random(n).shuffle((0 until n).map(i => 2L * i))
      .map(id => (id, "base", id % 7, (id % 3).toInt, (id % 2).toInt))

  test("key-range table: random DML equals the full-rewrite model, files rewritten ⊇ exact") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"), changeFeed = true)
    val base = evenBase(20000)
    t.create(frame(base))
    // the first merge re-clusters the load into key-range files
    t.upsert(frame(Seq(base.head)))
    val n = files(t.currentDir).size
    assert(n >= 20000 / LakeTable.RowsPerFile, s"$n files after clustering")
    val linked = runModel(t, base, seed = 7, steps = 10)
    assert(linked > 0, "no file was ever hard-linked: the rewrites were not file-granular")
  }

  test("two-level-partitioned change-feed table: random DML equals the model") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"), partitionCols = Seq("y", "m"),
      changeFeed = true)
    val base = evenBase(600)
    t.create(frame(base))
    val linked = runModel(t, base, seed = 11, steps = 10)
    assert(linked > 0, "no partition file was ever hard-linked")
  }

  test("a file with no recorded stats is rewritten; the rest still link") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    val base = evenBase(20000)
    t.create(frame(base))
    t.upsert(frame(Seq(base.head)))
    val dir = t.currentDir
    val sidecar = dir.resolve("_files")
    val lines = Files.readAllLines(sidecar).toArray.toSeq.map(_.toString)
    // a file far from the keys the next upsert touches loses its line
    // (as a version written before the sidecar existed would have)
    val victim = lines.maxBy(_.split('\t')(3).toLong)
    val victimInode = inode(dir.resolve(victim.split('\t')(0)))
    Files.delete(sidecar) // a hard link shared with no other version here
    Files.write(sidecar, lines.filterNot(_ == victim).mkString("", "\n", "\n").getBytes)
    val before = files(dir)
    t.upsert(frame(Seq((0L, "low", 1L, 0, 0))))
    val now = files(t.currentDir).values.toSet
    assert(!now.contains(victimInode), "the stats-less file was linked")
    assert(before.values.count(now.contains) >= before.size - 2,
      "files far from the touched key were rewritten")
    assert(snapshot(t.read).find(_._1 == 0L).contains((0L, "low", 1L, 0, 0)))
    assert(t.read.count() == 20000)
  }

  test("appends above the max extend the tail file instead of adding one") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    val base = evenBase(20000)
    t.create(frame(base))
    t.upsert(frame(Seq(base.head)))
    val before = files(t.currentDir)
    t.upsert(frame((1 to 10).map(i => (40000L + i, "app", 0L, 0, 0))))
    val now = files(t.currentDir)
    assert(now.size == before.size, s"${before.size} files became ${now.size}")
    // exactly one file (the tail) was rewritten, every other one linked
    assert(now.values.count(i => !before.values.toSet.contains(i)) == 1)
    assert(t.read.count() == 20010)
  }

  test("crash after the links, before the pointer swap: old version readable, next write correct") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"))
    val base = evenBase(20000)
    t.create(frame(base))
    t.upsert(frame(Seq(base.head)))
    val old = snapshot(t.read)
    val v = t.version
    t.upsert(frame(Seq((1L, "crashed", 0L, 0, 0))))
    // the crashed write's residue: its landed version dir beyond the
    // pointer, and a staging dir of hard links (a second crashed write)
    val orphan = t.currentDir
    val staging = Paths.get(root, ".staging_t")
    LakeTable.dataFiles(orphan).foreach { f =>
      Files.createDirectories(staging.resolve(f).getParent)
      Files.createLink(staging.resolve(f), orphan.resolve(f))
    }
    Files.writeString(Paths.get(root, "t", "CURRENT"), s"v$v")
    assert(snapshot(t.read) == old)
    t.upsert(frame(Seq((3L, "after", 0L, 0, 0))))
    assert(t.version == v + 1)
    assert(snapshot(t.read) == old + ((3L, "after", 0L, 0, 0)))
    assert(snapshot(t.readVersion(v)) == old)
    assert(!Files.exists(staging))
  }
}
