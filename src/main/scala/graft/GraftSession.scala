package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Local test/bench runs use `local[n]`; on a real cluster the same
  * conf block applies (AQE, skew-join handling, partition sizing) and
  * only master/shuffle-partitions change with cluster size.
  */
object GraftSession {

  /** Confs every graft session wants, local or cluster. */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // Deliberately NOT set (r22 A/B, optimization guide §3.1/§9):
      // spark.sql.join.preferSortMergeJoin=false +
      // spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m
      // measured flat-to-slower on the 10-entry SMJ-bearing subset in
      // two alternating A/B pairs (off 21.8/19.8 s vs on 22.9/23.5 s;
      // no single entry improved beyond ambient noise) — shuffled-hash
      // buys nothing over sort-merge at these partition sizes and
      // carries the build-side-OOM risk sort-merge doesn't. Defaults
      // stay; the full numbers are in OPTIMIZATION_r22.md.
      // Streaming state on RocksDB: the default HDFS-backed provider
      // keeps every key of every stateful operator on the executor HEAP
      // (bounded by memory, the first casualty of a 100 TB keyspace);
      // RocksDB spills state to local disk with an in-heap cache and is
      // the provider every large stateful job runs in production.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Changelog checkpointing: an epoch's commit writes the keys it
      // changed as one small file per partition. Without it every commit
      // flushes RocksDB, makes a checkpoint, copies the new SST files and
      // a metadata zip into the checkpoint dir, and deletes two temp dirs
      // with forked `rm -rf` (Spark's JavaUtils.deleteRecursively), all
      // inside the task. A full snapshot is now taken every 10th version
      // (stateStore.minDeltasForSnapshot) and uploaded by the state-store
      // maintenance thread; recovery replays the changelogs written after
      // the last uploaded snapshot. On the benchmark's stream_persist a
      // partition commit went from ~20-30 to ~5 ms, and a run's `rm -rf`
      // forks from 662 to 39.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // The salted whale-protection stages (streaming.Jobs
      // .ContainmentGate / ClusterAssignStream) chain two append-mode
      // flatMapGroupsWithState operators: a (doc, salt)-sharded
      // accumulator followed by a doc-keyed merge. Spark's static
      // checker flags EVERY stateful-after-stateful chain because a
      // downstream WATERMARK-FILTERING operator (aggregation, dedup,
      // join) would drop the upstream's late emissions — but fMGWS
      // never filters by watermark (late handling is the operator
      // author's contract), and the merge stage keeps no state at all:
      // all shards of a doc set the identical timeout, so its partials
      // arrive in one micro-batch. StreamingJobsSpec pins the merged
      // results ≡ batch, which is the end-to-end form of exactly the
      // property this check approximates statically.
      .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled",
        "false")
      // testdata ns-precision timestamps: surfaced as long nanos, graft
      // converts explicitly (portable across engines).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Local files through graft.storage.LocalFs. Without libhadoop
      // (NativeIO), stock Hadoop forks a process per file operation: a
      // `chmod` per created file or directory and a `readlink` per
      // getFileLinkStatus (both ends of every FileContext rename). A
      // JFR recording of one benchmark stream_persist run (RunningCounts
      // on RocksDB into the JDBC sink, 4 partitions) counted 6,630
      // process starts: 4,504 readlink and 1,669 chmod from Spark's
      // checkpoint file manager, RocksDB's snapshot upload and the
      // executors' output streams, and 454 `rm -rf`. With these two keys
      // the same run starts 665, 662 of them `rm -rf` from Spark's own
      // JavaUtils.deleteRecursively (two per RocksDB commit), which no
      // file-system key reaches; with changelog checkpointing (above) it
      // starts 42.
      // `fs.file.impl` serves FileSystem users (parquet writes, the
      // stores, RocksDB); the AbstractFileSystem key serves FileContext
      // (streaming offset/commit logs, state checkpoints).
      // tools/jfr_forks.py counts the forks of a recorded run.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.storage.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.storage.NioLocalFs].getName)

  def local(cores: Int = 4): SparkSession = {
    val s = tuned(SparkSession.builder().master(s"local[$cores]"), cores)
      .appName("graft")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
