package graft.io

import org.apache.spark.sql.functions._

import graft.io.Snapshots.{FileEntry, StatRange}

/** Prices the snapshot store's METADATA path at a large manifest tier
  * (default 1M file entries — the 100 TB table shape, where data files
  * are ~100 MB each): manifest resolution, stats-pruned planning,
  * delta-commit and checkpoint-commit cost, a pruned end-to-end read,
  * and distributed vacuum planning. The bulk of the manifest is
  * SYNTHETIC entries (files that do not exist, stats disjoint from the
  * real rows) injected through the store's own delta-commit writer —
  * every timed operation must therefore be pruning- and plan-side
  * correct (an operation that tried to open the synthetic files would
  * crash, exactly like the 200k-entry ManifestScaleSpec proofs).
  * Results are recorded in BASELINE.md §"Manifest-tier pricing".
  *
  * {{{ sbt "runMain graft.io.ManifestBench [entries] }}}
  * prints ONE JSON line with millisecond timings.
  */
object ManifestBench {

  private def timed[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1000000L)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val spark = graft.Session.local("graft-manifest-bench")
    import spark.implicits._

    val t = s"${sys.props("java.io.tmpdir")}/graft_manifest_bench/t"
    val p = new org.apache.hadoop.fs.Path(t)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)

    // v1: a small REAL table (its files are the ones reads touch)
    val real = (1 to 1000)
      .map(i => (f"d${i % 4}-$i%05d", s"d${i % 4}", i.toLong))
      .toDF("id", "day", "cents")
    Snapshots.commitFull(real, t, "day", statsCols = Seq("id", "cents"))

    // v2: +n synthetic entries via the store's own delta writer —
    // ids/cents far outside the real ranges, 1000 synthetic partitions
    val (_, injectMs) = timed {
      val synthetic = (0 until n).map { i =>
        FileEntry(s"data/c1/gp=z${i % 1000}/f$i.parquet", s"z${i % 1000}",
          1000L, Map(
            "id" -> StatRange("string", f"zz-$i%09d", f"zz-$i%09d"),
            "cents" -> StatRange("long",
              (1000000000L + i * 100L).toString,
              (1000000000L + i * 100L + 99L).toString)),
          spec = Some("day"))
      }
      Snapshots.reserve(spark, t, 2)
      Snapshots.writeDelta(spark, t, 2, synthetic, Nil, None)
      Snapshots.schemaOf(spark, t, 1)
        .foreach(Snapshots.writeSchema(spark, t, 2, _))
      Snapshots.partSpecOf(spark, t, 1)
        .foreach(Snapshots.writePartSpec(spark, t, 2, _))
      Snapshots.publish(spark, t, 2)
    }

    // manifest resolution: full scan of the (1M+1k)-entry manifest
    val (entryCount, resolveMs) = timed {
      Snapshots.manifestDF(spark, t, 2).count()
    }

    // stats-pruned planning: a selective cents range over 1M entries —
    // the driver materializes only the survivors
    val ((hit, planMs), _) = timed {
      timed(Snapshots.prunedFiles(spark, t, 2, "cents",
        "1000500000", "1000500250").size)
    }

    // eight appends: seven O(commit)-metadata deltas and ONE
    // checkpoint commit (v9 here: the first version a CheckpointEvery
    // chain-length reaches) that re-materializes the full manifest —
    // plan-side, never on the driver. The max of the batch IS the
    // checkpoint by construction; the rest price the delta path.
    val appendAll = (1 to 8).map { i =>
      val tiny = Seq((f"a$i%03d", "d0", 5000L + i))
        .toDF("id", "day", "cents")
      timed(Snapshots.commitAppend(tiny, t, "day",
        statsCols = Seq("id", "cents")))._2
    }
    val checkpointMs = appendAll.max
    val appendMs = appendAll.sorted.dropRight(1)

    // end-to-end pruned read: hits only real files (the synthetic
    // stats exclude the range — a plan that failed to prune would
    // crash on the missing paths)
    val (got, readMs) = timed {
      Snapshots.readRange(spark, t, "cents", "1", "1000").count()
    }

    // distributed vacuum planning: live set = union of retained
    // manifests (≈1M paths) as a PLAN, anti-joined against the real
    // listing on executors
    val (reclaimed, vacuumMs) = timed {
      Snapshots.vacuum(spark, t, Snapshots.currentVersion(spark, t))
    }

    println(
      s"""{"metric":"manifest_bench","entries":$entryCount,""" +
        s""""inject_ms":$injectMs,"resolve_ms":$resolveMs,""" +
        s""""plan_ms":$planMs,"plan_hits":$hit,""" +
        s""""append_delta_ms":[${appendMs.mkString(",")}],""" +
        s""""append_checkpoint_ms":$checkpointMs,""" +
        s""""read_range_ms":$readMs,"read_rows":$got,""" +
        s""""vacuum_ms":$vacuumMs,"vacuum_reclaimed":$reclaimed}""")
    spark.stop()
  }
}
