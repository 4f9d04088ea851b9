package graft.etl

import org.apache.spark.sql.SparkSession

/** Session construction: the one runner session every main (and the
  * test suite) builds through, plus helpers for a catalog that SURVIVES
  * restarts.
  *
  * The reference's serving contract is durable: its `costs` view lives in
  * PostgreSQL (reference sql/init.sql:31-56, src/main.py:124-132) and is
  * there after every restart. Spark's default in-memory catalog loses
  * view DDL with the session, so [[CostsView.createDurable]] was only as
  * durable as the process. Backing the session with a persistent
  * metastore (embedded Derby under `dir/metastore_db` — the in-sandbox
  * stand-in for a shared Hive metastore / Glue catalog on a real
  * cluster) makes the DDL genuinely durable: a NEW session pointed at
  * the same directory resolves `costs` and serves D1 with no re-sync.
  */
object Sessions {

  /** The runner session. The only `SparkSession.builder()` call in the
    * library: Main, Verify, Bench, JobProfile, PhaseBench, PlanDump and
    * the test suite all get the same SQL semantics and the native
    * `graft_*` functions from here.
    *
    * Environment (each read here and nowhere else):
    *  - `SPARK_GRAFT_CPUS`: local task slots and shuffle partitions
    *    (default: the JVM's available processors);
    *  - `SPARK_GRAFT_MASTER`: master URL (default `local[cpus]`). A
    *    `local-cluster[...]` master runs executors as separate JVMs,
    *    which get this build's classpath so task and broadcast
    *    serialization cross real process boundaries;
    *  - `SPARK_GRAFT_MAX_PARTITION_BYTES`: scan split size (default 16m).
    *
    * `cpus` and `master` arguments override the environment (the test
    * suite pins `local[4]`); `configure` adds caller settings (S3A,
    * durable catalog, warehouse dir) before the session is created. */
  def runner(
      cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      master: Option[String] = None,
      configure: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val url = master.getOrElse(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
    val b = SparkSession.builder()
      .master(url)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // split text-expanding parquet at 16 MB: documents.parquet
      // compresses ~3:1 and the 128 MB default put a whole large corpus
      // in ONE scan task (e16's per-char regex ran single-core). Files
      // under 16 MB are unaffected; a cluster reading many files may
      // want 128m back.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
      // partitioned index/code layouts use up to nlist=64 `cid=` dirs;
      // the default threshold (32) turns each such listing into a
      // 64-task Spark job. 128 keeps them on the driver's listing pool.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      // let AQE size cached-plan partitions from the data: the default
      // pins every persisted stage at the static shuffle count, so each
      // cache consumer pays that many near-empty tasks on a KB-scale
      // cached stage. AQE only coalesces small partitions, so a large
      // cached stage keeps its width.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
    if (url.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", sys.props.getOrElse("java.class.path", ""))
    val s = configure(b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply persistent-metastore settings to a builder. Must run before
    * `getOrCreate` — catalog implementation and metastore URL are static
    * confs fixed at SharedState creation. */
  def durableCatalog(b: SparkSession.Builder, dir: String): SparkSession.Builder =
    b.config("spark.sql.catalogImplementation", "hive")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      // embedded Derby: one metastore per directory; `create=true` boots
      // the schema on first use (the reference's init.sql role)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$dir/metastore_db;create=true")
      .config("datanucleus.schema.autoCreateAll", "true")
      .config("spark.hadoop.hive.metastore.schema.verification", "false")

  /** Apply [[EngineConfig.s3aHadoopConf]] to a LIVE session's Hadoop
    * configuration (O26 / reference aws_cur.py:44-54: credentials,
    * region, endpoint, path-style). Hadoop fs confs are read at
    * FileSystem instantiation, not session build, so setting them on a
    * running session works — library callers that receive a session
    * (rather than building one through [[graft.Main]]) use this.
    * Deliberately does NOT touch `fs.s3a.impl`: the implementation
    * binding belongs to the deployment's jars, and the offline contract
    * test binds it to a local-backed stub. */
  def applyS3a(s: SparkSession, cfg: EngineConfig): SparkSession = {
    cfg.s3aHadoopConf.foreach { case (k, v) =>
      s.sparkContext.hadoopConfiguration.set(k, v)
    }
    s
  }
}
