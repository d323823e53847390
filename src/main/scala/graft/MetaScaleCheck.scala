package graft

import graft.ingest.{ManifestCommit, MergeInto}
import graft.ingest.ManifestCommit.ColStats
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only MANIFEST-METADATA scaling experiment — the complement of
  * [[ScaleCheck]] (which scales DATA at fixed layout): here the DIR COUNT
  * scales at fixed per-dir size, because the table-format layer's costs
  * are driver-side metadata walks (manifest parse/render, stats loops,
  * bloom side-file probes, orphan listing) that no data-volume kernel
  * exposes. A 100 TB table at a healthy 0.5–5 GB dir granularity carries
  * 20k–200k dirs — the regime these kernels pin down.
  *
  * Kernels run at N and 8N dirs; wall-clock (min of 2 reps) because the
  * measured work IS driver latency, not executor CPU. Linear-in-dirs
  * (ratio ≈ 8) is the design target for whole-manifest walks
  * (parse/commit/history/orphans); O(touched) ops (hot-band MERGE,
  * sparse DV delete, bucket read) should stay FLAT (ratio ≈ 1) apart
  * from their own O(dirs) manifest parse. Findings land in SCALE.md.
  *
  * Usage: SPARK_GRAFT_META_N=2000 sbt "runMain graft.MetaScaleCheck".
  */
object MetaScaleCheck {

  def time(label: String)(f: => Any): Double = {
    val reps = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    val w = reps.min
    println(f"[metascale] $label%-52s wall $w%8.3f s")
    w
  }

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Synthetic metadata-only table: nDirs manifest entries with id-range
    * + __rows stats, a bloom side file per dir (keys [i*100, i*100+100)),
    * nDirs/10 orphan dirs, and 5 retained generations. Data files are
    * irrelevant to every kernel run here — the metadata IS the load. */
  private def buildMeta(spark: SparkSession, root: String, nDirs: Int): Unit = {
    val f = fsOf(spark, root)
    val names = (0 until nDirs).map(i => f"data_$i%06d")
    names.zipWithIndex.foreach { case (d, i) =>
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
      var k = i * 100L
      while (k < i * 100L + 100) { bf.putLong(k); k += 1 }
      val out = f.create(new Path(new Path(root, d), "_bloom_id"), true)
      try bf.writeTo(out) finally out.close()
    }
    val stats = names.zipWithIndex.map { case (d, i) =>
      d -> Seq(
        ColStats("id", "num", (i * 100L).toString, (i * 100L + 99).toString),
        ColStats(ManifestCommit.RowCountStat, "num", "100", "100"))
    }.toMap
    ManifestCommit.commitReplace(spark, root, names,
      pruneDisplaced = false, stats = stats)
    // retained history: 4 appended generations
    (1 to 4).foreach { k =>
      ManifestCommit.commitAppend(spark, root, s"$root/data_app_build$k",
        stats = Seq(ColStats("id", "num",
          (nDirs * 100L + k).toString, (nDirs * 100L + k).toString),
          ColStats(ManifestCommit.RowCountStat, "num", "1", "1")))
    }
    (0 until nDirs / 10).foreach { i =>
      val p = new Path(root, f"data_orph_$i%06d/part-0")
      val out = f.create(p, true)
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
    }
  }

  /** Real-data table: nDirs key-range dirs of `rowsPerDir` rows each,
    * schema recorded (readers plan footer-free). */
  private def buildRanged(spark: SparkSession, prefix: String, nDirs: Int,
      rowsPerDir: Int): String = {
    val root = GraftTmp.dir(prefix) + "/t"
    val df = spark.range(nDirs.toLong * rowsPerDir)
      .select(col("id"), (col("id") % 997).as("v"))
    val slice = (col("id") / rowsPerDir).cast("long")
    val dirs = ManifestCommit.writeSliced(spark, root, df, slice,
      Seq("id", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(org.apache.spark.sql.types.StructType(
        df.schema.fields.map(_.copy(nullable = true)))),
      slice = Some(ManifestCommit.sliceSql(slice)))
    root
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_META_N", "2000").toInt
    val spark = GraftSession.fromEnv("graft-metascale")
    spark.sparkContext.setLogLevel("ERROR")

    def kernels(tag: String, nDirs: Int): Map[String, Double] = {
      val all = scala.collection.mutable.Map[String, Double]()
      val root = GraftTmp.dir(s"metascale_${tag}_") + "/t"
      buildMeta(spark, root, nDirs)
      all("read_manifest") = time(s"$tag readManifest COLD (checkpoint+chain, $nDirs dirs)") {
        ManifestCommit.clearResolveCache() // a fresh process's first read
        assert(ManifestCommit.readManifest(spark, root).get.dirs.size >= nDirs)
      }
      all("read_manifest_warm") = time(s"$tag readManifest warm (pointer + cache)") {
        assert(ManifestCommit.readManifest(spark, root).get.dirs.size >= nDirs)
      }
      all("resolve_pruned") = time(s"$tag resolvePruned 1% band") {
        val (kept, total) = ManifestCommit.resolvePruned(spark, root, Seq(("id",
          Some((nDirs / 2 * 100L).toString),
          Some((nDirs / 2 * 100L + nDirs).toString))))
        assert(kept.size < total)
      }
      all("resolve_bloom") = time(s"$tag resolveBloom point probe") {
        val (kept, total) = ManifestCommit.resolveBloom(spark, root, "id",
          (nDirs / 3) * 100L + 42L)
        assert(kept.nonEmpty && total >= nDirs)
      }
      all("table_count") = time(s"$tag tableRowCount (manifest-only)") {
        assert(ManifestCommit.tableRowCount(spark, root).exists(_ > 0))
      }
      all("history") = time(s"$tag history over 5 retained generations") {
        assert(ManifestCommit.history(spark, root).collect().length >= 5)
      }
      all("commit_append") = time(s"$tag commitAppend (delta record + O(1) pointer)") {
        ManifestCommit.commitAppend(spark, root,
          s"$root/data_app_${java.util.UUID.randomUUID().toString.take(8)}",
          stats = Seq(ColStats("id", "num", "0", "0")))
      }
      all("prune_orphans") = time(s"$tag pruneOrphans walk (${nDirs / 10} orphans)") {
        // freshness cutoff far in the past: full candidate walk, no deletes
        // (rep 2 must see the same orphan set)
        assert(ManifestCommit.pruneOrphans(spark, root,
          minAgeMs = Long.MaxValue / 4).isEmpty)
      }

      // ---- O(touched) ops on REAL tables whose DIR COUNT scales: the
      // claims are O(touched dirs + manifest parse), so these must stay
      // ~flat apart from the O(dirs) parse itself.
      locally { // hot-band MERGE: source inside ONE dir of nDirs
        val roots = Seq(buildRanged(spark, s"meta_merge_${tag}_", nDirs, 100),
          buildRanged(spark, s"meta_merge_${tag}_", nDirs, 100)).iterator
        val src = spark.range(nDirs / 2 * 100L + 10, nDirs / 2 * 100L + 60)
          .select(col("id"), lit(-1L).as("v"))
        all("merge_hot") = time(s"$tag MERGE hot band (1 dir of $nDirs)") {
          val res = MergeInto.merge(spark, roots.next(), src, Seq("id"))
          assert(res.dirsRewritten == 1, s"expected 1 dir, got ${res.dirsRewritten}")
        }
      }
      locally { // SQL surface planning: resolution (manifest-only) +
        // stats skipping (driver walk over in-memory stats) + expansion
        // (file listing of KEPT dirs only) — the whole spark.sql planning
        // path must scale with the manifest walk, never with a listing
        // of all dirs
        val r = buildRanged(spark, s"meta_sql_${tag}_", nDirs, 100)
        graft.sql.GraftSql.register(s"metasql_$tag", r)
        all("sql_plan_pruned") = time(s"$tag SQL plan 1% band ($nDirs dirs)") {
          val df = spark.sql(
            s"SELECT v FROM graft.metasql_$tag WHERE id >= ${nDirs / 2 * 100L} " +
              s"AND id <= ${nDirs / 2 * 100L + nDirs}")
          val nScan = df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation match {
                case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  fs.location.rootPaths.size
                case _ => 0
              }
          }.sum
          assert(nScan > 0 && nScan < nDirs / 10, s"scan set not pruned: $nScan")
        }
        // SQL sliced INSERT: cost must follow the INSERT (2 new slices,
        // 200 rows) + the manifest parse — never a listing or rewrite of
        // the nDirs existing dirs (the append commits as an O(changes)
        // delta record behind the O(1) pointer). `time` reps the block, so
        // the dir-delta check is relative per rep (duplicate row CONTENT
        // across reps is irrelevant — the metadata cost is the kernel).
        all("sql_sliced_insert") = time(s"$tag SQL sliced INSERT (2 slices onto $nDirs dirs)") {
          val before = ManifestCommit.readManifest(spark, r).get.dirs.size
          spark.sql(s"INSERT INTO graft.metasql_$tag " +
            s"SELECT id, id % 997 AS v FROM range(${nDirs * 100L}, ${nDirs * 100L + 200})")
          val m2 = ManifestCommit.readManifest(spark, r).get
          assert(m2.dirs.size == before + 2,
            s"dirs $before -> ${m2.dirs.size} (op=${m2.op}, slice=${m2.slice})")
        }
        // streaming tail: a running readStream drains ONE append commit.
        // Claim: per-trigger cost is O(new dirs) + the manifest parse —
        // classifying the commit walks two cached manifest resolves and
        // reads only the appended dir, never the nDirs-dir table.
        locally {
          val qn = s"metastream_$tag"
          val q = spark.readStream.format("graft-table")
            .option("startingVersion", "latest").load(r)
            .writeStream.format("memory").queryName(qn)
            .outputMode("append").start()
          try all("stream_tail") = time(s"$tag stream tail drain (1 append onto $nDirs dirs)") {
            val before = spark.table(qn).count()
            val d = ManifestCommit.newDataDir(r)
            spark.range(0, 100).select(col("id"), lit(0L).as("v"))
              .write.parquet(d)
            ManifestCommit.commitAppend(spark, r, d)
            q.processAllAvailable()
            assert(spark.table(qn).count() == before + 100)
          } finally q.stop()
        }
      }
      locally { // shallow clone: forking an nDirs-dir table must be ONE
        // O(dirs) metadata commit (manifest read + render), zero data
        // I/O; and reads THROUGH the clone must prune from the carried
        // stats exactly like the source — O(kept dirs), not O(dirs)
        val srcR = buildRanged(spark, s"meta_clone_${tag}_", nDirs, 100)
        all("shallow_clone") = time(s"$tag shallowClone ($nDirs dirs, zero copy)") {
          val dst = GraftTmp.dir(s"meta_clone_dst_${tag}_") + "/c"
          val m = ManifestCommit.shallowClone(spark, srcR, dst)
          assert(m.dirs.size == nDirs)
        }
        val dst2 = GraftTmp.dir(s"meta_clone_dst2_${tag}_") + "/c"
        ManifestCommit.shallowClone(spark, srcR, dst2)
        all("clone_pruned_read") = time(s"$tag clone pruned read (1 dir of $nDirs)") {
          val (df, kept, total) = ManifestCommit.readPruned(spark, dst2, Seq(("id",
            Some((nDirs / 2 * 100L).toString),
            Some((nDirs / 2 * 100L + 50).toString))))
          assert(kept < total && df.count() > 0)
        }
        // a full read through the clone probes every external dir it
        // reads (the clone-retention check) before planning
        all("clone_full_plan") = time(s"$tag clone full-read plan ($nDirs dirs)") {
          ManifestCommit.read(spark, dst2).queryExecution.executedPlan
        }
      }
      locally { // hive convert: an nDirs-leaf `part=` layout onto the
        // manifest — O(leaves) renames (distributed past the small
        // fan-out) + ONE grouped stats pass, never a rewrite; a point
        // probe through the converted table then prunes to 1 dir with
        // the injected partition column served
        def mkHive(): String = {
          val hr = GraftTmp.dir(s"meta_hive_${tag}_") + "/t"
          spark.range(nDirs.toLong * 50)
            .select(col("id"), (col("id") / 50).cast("int").as("part"))
            .write.partitionBy("part").parquet(hr)
          hr
        }
        val hives = Seq(mkHive(), mkHive()).iterator // time() reps twice
        var hr = ""
        all("hive_convert") = time(s"$tag convertToGraft ($nDirs hive leaves)") {
          hr = hives.next()
          assert(ManifestCommit.convertToGraft(spark, hr, Seq("id"))
            .dirs.size == nDirs)
        }
        all("hive_pruned_read") = time(
          s"$tag converted-table pruned read (1 leaf of $nDirs)") {
          val (df, kept, total) = ManifestCommit.readPruned(spark, hr, Seq(("part",
            Some((nDirs / 2).toString), Some((nDirs / 2).toString))))
          assert(kept == 1 && total == nDirs && df.count() == 50)
        }
      }
      locally { // MULTI-LEVEL hive convert (round 15): the same nDirs
        // leaves arranged as a sqrt x sqrt `a=/b=` tree — discovery
        // walks one extra level (BFS, concurrent listings), the move
        // count is unchanged (one rename per LEAF, intermediate shells
        // swept post-commit), and the grouped stats pass keys on BOTH
        // columns; each dimension then prunes independently
        val side = math.max(2, math.sqrt(nDirs.toDouble).round.toInt)
        val leaves = side * side
        def mkHive2(): String = {
          val hr = GraftTmp.dir(s"meta_hive2_${tag}_") + "/t"
          spark.range(leaves.toLong * 20)
            .select(col("id"),
              (col("id") / (20L * side)).cast("int").as("a"),
              ((col("id") / 20) % side).cast("int").as("b"))
            .write.partitionBy("a", "b").parquet(hr)
          hr
        }
        val hives2 = Seq(mkHive2(), mkHive2()).iterator // time() reps twice
        var h2 = ""
        all("hive2_convert") = time(
          s"$tag convertToGraft ($leaves two-level leaves, $side x $side)") {
          h2 = hives2.next()
          assert(ManifestCommit.convertToGraft(spark, h2, Seq("id"))
            .dirs.size == leaves)
        }
        all("hive2_dim_read") = time(
          s"$tag two-level pruned read (1 of $side on each dimension)") {
          val (da, ka, ta) = ManifestCommit.readPruned(spark, h2, Seq(("a",
            Some((side / 2).toString), Some((side / 2).toString))))
          assert(ka == side && ta == leaves && da.count() == 20L * side)
          val (db, kb, _) = ManifestCommit.readPruned(spark, h2, Seq(("b",
            Some((side / 2).toString), Some((side / 2).toString))))
          assert(kb == side && db.count() == 20L * side)
        }
      }
      locally { // change-feed diff after a 1-dir merge: the feed's plan
        // AND driver work must follow the CHANGED dirs (one rewritten,
        // one added), never O(table) — the r15 fix reads the schema from
        // the manifest instead of listing every live dir at plan time
        val root = buildRanged(spark, s"meta_diff_${tag}_", nDirs, 100)
        val g1 = ManifestCommit.readManifest(spark, root).get.gen
        val band = spark.range(nDirs / 2 * 100L, nDirs / 2 * 100L + 30)
          .select(col("id"), lit(-1L).as("v"))
        MergeInto.merge(spark, root, band, Seq("id"))
        val g2 = ManifestCommit.readManifest(spark, root).get.gen
        all("cdf_diff_1dir") = time(
          s"$tag ChangeFeed.diff, 1 dir changed of $nDirs") {
          assert(graft.ingest.ChangeFeed
            .diff(spark, root, g1, g2, Seq("id")).count() == 60L)
        }
      }
      locally { // RENAME COLUMN (round 16): one O(dirs) metadata commit
        // (the stats rekey touches every dir line, so the record is a
        // checkpoint) and ZERO data I/O at any dir count; a pruned read
        // under the NEW name then stays O(kept dirs) — the physical
        // alias must not break manifest skipping
        val root = buildRanged(spark, s"meta_rename_${tag}_", nDirs, 100)
        var flip = 0
        all("rename_column") = time(s"$tag RENAME COLUMN ($nDirs dirs rekeyed)") {
          // time() reps the block: alternate the direction so each rep
          // performs one full rename commit
          if (flip % 2 == 0) ManifestCommit.renameColumn(spark, root, "v", "w")
          else ManifestCommit.renameColumn(spark, root, "w", "v")
          flip += 1
        }
        val renamedCol = if (flip % 2 == 0) "v" else "w"
        all("renamed_pruned_read") = time(
          s"$tag pruned read under the renamed name (1 dir of $nDirs)") {
          val (df, kept, total) = ManifestCommit.readPruned(spark, root, Seq(("id",
            Some((nDirs / 2 * 100L).toString),
            Some((nDirs / 2 * 100L + 50).toString))))
          assert(kept < total && df.select(renamedCol).count() > 0)
        }
      }
      locally { // sparse DV delete: keys in 8 fixed dirs of nDirs
        val roots = Seq(buildRanged(spark, s"meta_dv_${tag}_", nDirs, 100),
          buildRanged(spark, s"meta_dv_${tag}_", nDirs, 100)).iterator
        val keys = spark.range(8).select((col("id") * 100L + 7L).as("id"))
        all("dv_sparse_delete") = time(s"$tag DV delete (8 dirs of $nDirs)") {
          val res = MergeInto.deleteWhere(spark, roots.next(), keys)
          assert(res.dvsWritten == 8, s"expected 8 DVs, got ${res.dvsWritten}")
        }
      }
      all.toMap
    }

    // many-DV read shape: EVERY dir dv'd; the read must hold one DV
    // filter per key-set group, not one per dir (plan size flat), and a
    // repeat read (the second rep) finds every DV's keys cached. The same
    // read with the DVs cleared is timed beside it: the DV-free baseline
    // (what the scan itself costs at this dir count). Returns both.
    def dvRead(tag: String, nDirs: Int): (Double, Double) = {
      val root = buildRanged(spark, s"meta_dvread_${tag}_", nDirs, 200)
      val keys = spark.range(nDirs.toLong)
        .select((col("id") * 200L + 3L).as("id"))
      val res = MergeInto.deleteWhere(spark, root, keys)
      assert(res.dvsWritten == nDirs, s"expected $nDirs DVs, got ${res.dvsWritten}")
      val plan = ManifestCommit.read(spark, root).queryExecution.executedPlan.toString
      val filters = plan.linesIterator.count(_.matches(".*Filter .*dv_deleted\\(.*"))
      assert(filters == 1, s"$nDirs dv'd dirs: $filters DV filters, want 1:\n$plan")
      val m = ManifestCommit.readManifest(spark, root).get
      (time(s"$tag read+count with $nDirs dv'd dirs") {
        assert(ManifestCommit.read(spark, root).count() == nDirs.toLong * 199)
      }, time(s"$tag read+count of the same $nDirs dirs, DVs cleared") {
        assert(ManifestCommit.readDirsOf(spark, root, m.copy(dvs = Map.empty),
          m.dirs).count() == nDirs.toLong * 200)
      })
    }

    // full-read plan: the manifest names every file, so planning a scan
    // of all nDirs dirs runs no listing job and no Spark job at all; its
    // cost is the manifest walk plus building one file status per file.
    // Also prints the table's checkpoint bytes per dir with the file
    // lists and with them stripped (the format before lists).
    def fullReadPlan(tag: String, nDirs: Int): Map[String, Double] = {
      val root = buildRanged(spark, s"meta_fullplan_${tag}_", nDirs, 100)
      val name = s"metafull_$tag"
      graft.sql.GraftSql.register(name, root)
      val g = ManifestCommit.readManifest(spark, root).get.gen
      val ckpt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/_manifest.g$g")), "UTF-8")
      val stripped = ckpt.split("\n").filterNot(_.startsWith("#vermin")).map(_.split('\t')
        .filterNot(_.startsWith("f:")).mkString("\t")).mkString("\n")
      println(f"[metascale] $tag checkpoint bytes per dir ($nDirs dirs): " +
        f"${ckpt.length.toDouble / nDirs}%.1f with file lists, " +
        f"${stripped.length.toDouble / nDirs}%.1f without")
      var jobs = -1
      val plan = time(s"$tag SQL plan, full read ($nDirs dirs)") {
        jobs = JobMeter.measure(spark)(spark.sql(s"SELECT sum(v) FROM graft.$name")
          .queryExecution.executedPlan).count
      }
      assert(jobs == 0, s"full-read plan ran $jobs jobs")
      val manifest = time(s"$tag readManifest COLD of the same table") {
        ManifestCommit.clearResolveCache()
        assert(ManifestCommit.readManifest(spark, root).get.dirs.size == nDirs)
      }
      Map("full_read_plan" -> plan, "full_read_manifest" -> manifest)
    }

    println(s"[metascale] --- 1x ($n dirs) ---")
    val one = kernels("1x", n) ++ fullReadPlan("1x", n)
    val dv1 = dvRead("1x", 12)
    println(s"[metascale] --- 8x (${n * 8} dirs) ---")
    val big = kernels("8x", n * 8) ++ fullReadPlan("8x", n * 8)
    val dv8 = dvRead("8x", 96)
    println(s"[metascale] ratios at 8x dirs (full-walk target <= ~8; O(touched) target ~1):")
    one.keys.toSeq.sorted.foreach { k =>
      println(f"[metascale]   $k%-20s ${big(k) / one(k)}%6.2f x")
    }
    println(f"[metascale]   dv_read_96           ${dv8._1 / dv1._1}%6.2f x (12 -> 96 dv'd dirs)")
    println(f"[metascale]   dv_free_read_96      ${dv8._2 / dv1._2}%6.2f x (the same reads, DVs cleared)")
    GraftTmp.purge()
    spark.stop()
  }
}
