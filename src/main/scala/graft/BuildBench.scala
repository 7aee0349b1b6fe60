package graft

import graft.build.IndexBuilder
import graft.corpus.CorpusGen

/** Single build-throughput measurement, meant to run in its own JVM
  * pinned to N cores (`taskset -c 0..N-1`) — the honest emulation of an
  * N-core cluster: GC, JIT and shuffle threads compete for the same N
  * cores the tasks do, exactly as they would on an N-core executor.
  * (In-process `local[N]` alone under-reports scaling: the N=8 run's GC
  * gets the other 24 physical cores for free.)
  *
  * args: numDocs cores workDir — prints one line `files_per_sec=<v>`. */
object BuildBench {

  /** Pure-CPU calibration: `cores` threads of SHA-256 over a 64 KiB
    * buffer for ~3 s; prints hashes/sec. Run pinned at both cluster
    * sizes, this measures the sandbox's OWN scaling ceiling (a shared
    * hypervisor rarely yields 4.0× from 4× vCPUs) so build efficiency
    * can be reported against physical reality, not an ideal machine. */
  def calibrate(cores: Int): Unit = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val counts = new java.util.concurrent.atomic.AtomicLong(0)
    val threads = (0 until cores).map { _ =>
      new Thread(() => {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val buf = new Array[Byte](65536)
        var n = 0L
        while (!stop.get()) { md.update(buf); md.digest(); n += 1 }
        counts.addAndGet(n)
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    Thread.sleep(3000)
    stop.set(true)
    threads.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"hashes_per_sec=${counts.get() / sec}%.1f")
  }

  /** Memory-bandwidth probe (STREAM-triad shape): `cores` threads each
    * stream a(i) = b(i) + s·c(i) over private 16 MiB double arrays (way
    * past L3 per thread) for ~3 s; returns aggregate GB/s of array
    * traffic (24 B per element nominal). A build leg probes in its OWN
    * pinned window; the ratio at two cluster sizes measures how much of
    * the socket's bandwidth is already saturated at the smaller size —
    * the ceiling that binds a shuffle-heavy build long before the
    * pure-CPU (cache-resident SHA-256) ceiling does. */
  def triadGbps(cores: Int): Double = {
    val elems = (16 << 20) / 8 // 16 MiB per array, 3 arrays per thread
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val threads = (0 until cores).map { _ =>
      new Thread(() => {
        val a = new Array[Double](elems)
        val b = Array.tabulate(elems)(_.toDouble)
        val c = Array.tabulate(elems)(i => (i * 2).toDouble)
        var moved = 0L
        while (!stop.get()) {
          var i = 0
          while (i < elems) { a(i) = b(i) + 3.0 * c(i); i += 1 }
          moved += elems.toLong * 24L
        }
        bytes.addAndGet(moved)
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    Thread.sleep(3000)
    stop.set(true)
    threads.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    bytes.get() / sec / 1e9
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "calibrate") { calibrate(args(1).toInt); return }
    val Array(nDocsS, coresS, workDir) = args
    val nDocs = nDocsS.toLong
    val cores = coresS.toInt
    // bandwidth probe in the SAME pinned window as the build it brackets —
    // the round's BENCH json carries (files/sec, GB/s) pairs per leg, so a
    // noisy-neighbor window is self-documenting instead of inferred from
    // probes taken minutes apart
    val bwPre = triadGbps(cores)
    val spark = MainSupport.session(s"graft-buildbench-$cores", cores, Seq(
      "spark.ui.enabled" -> "false",
      "spark.driver.host" -> "localhost",
      "spark.io.compression.codec" -> "lz4",
      "spark.sql.parquet.compression.codec" -> "snappy",
      // the flush write is dynamic-partitioned by `kind` (2-4 values);
      // without concurrent writers Spark SORTS each task's whole output
      // by the partition column first — an extra serialize+spill of the
      // corpus payload per task. Concurrent writers keep one open file
      // per kind and stream rows straight through.
      "spark.sql.maxConcurrentOutputFileWriters" -> "8",
      // shuffle/spill on tmpfs: the measurement targets compute scaling,
      // not this container's single virtual disk (a real cluster has a
      // disk per executor; here 32 tasks would share one /dev/vda)
      "spark.local.dir" -> s"$workDir/spark-local"))
    spark.sparkContext.setLogLevel("WARN")
    // JIT warmup on a small slice, then the timed build
    IndexBuilder.build(spark, CorpusGen.dataset(spark, math.max(2000, nDocs / 20),
      parallelism = cores * 4), s"$workDir/warmup", numPartitions = cores)
    // The north-rule metric is build throughput over a pre-existing table
    // of the input_hint shape — materialize the synthetic corpus as a
    // parquet table first (untimed), then time the build reading it (this
    // also keeps the range-sampler's second scan a cheap table re-read
    // instead of a second generation pass).
    val corpusPath = s"$workDir/corpus"
    CorpusGen.dataset(spark, nDocs, parallelism = cores * 4)
      .write.mode("overwrite").parquet(corpusPath)
    val corpus = {
      import spark.implicits._
      spark.read.parquet(corpusPath).as[graft.corpus.SourceFile]
    }
    val dir = s"$workDir/timed"
    val t0 = System.nanoTime()
    IndexBuilder.buildFlush(spark, corpus, dir, numPartitions = cores)
    val tFlush = System.nanoTime()
    IndexBuilder.buildPostings(spark, dir, cores)
    IndexBuilder.buildStats(spark, dir, cores)
    val tEnd = System.nanoTime()
    val sec = (tEnd - t0) / 1e9
    // "flush" = the fused corpus-sort + tokenize + posting-block pass;
    // "merge" = global term shuffle + dictionary/stats aggregation.
    println(f"files_per_sec=${nDocs / sec}%.1f")
    println(f"flush_files_per_sec=${nDocs / ((tFlush - t0) / 1e9)}%.1f")
    println(f"merge_sec=${(tEnd - tFlush) / 1e9}%.3f")
    spark.stop()
    println(f"bw_pre_gbps=$bwPre%.2f")
    println(f"bw_post_gbps=${triadGbps(cores)}%.2f")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(workDir))
  }
}
