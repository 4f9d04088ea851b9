package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.time.LocalDate

/** The sync orchestration driver — mirror of the reference's ETL loop
  * (reference src/main.py:37-145): per source path, extract (partition-
  * pruned, account-filtered) → load raw → normalize → load normalized →
  * rebuild the `costs` view → append sync_log.
  *
  * Differences by design (all Spark-first):
  *  - the whole per-table pipeline is ONE lazy plan; the only actions
  *    are the sink writes (no fetchdf()-style materialization point —
  *    the reference's documented OOM, CLAUDE.md:128-133);
  *  - per-path error isolation (aws_cur.py:162-164 / main.py try) keeps
  *    a bad source from killing the run; failures land in sync_log;
  *  - `--dry-run` prints the month window, the account predicate, and
  *    the full Catalyst plan (`explain(true)`) without running a job
  *    (main.py:60-63,89-93 made honest: the *real* plan, not a string).
  */
object Sync {

  final case class Options(
      months: Int = 1,
      rawOnly: Boolean = false,
      dryRun: Boolean = false,
      allAccounts: Boolean = false,
      asOf: LocalDate = LocalDate.now(),
      // the skipped-file audit costs one footer-read pass over the
      // in-window files (see auditSkippedFiles) — default on; operators
      // syncing huge object-store roots can trade the zero-row check
      // away with --no-file-audit
      auditFiles: Boolean = true,
      // incremental mode (parquet sink): loads use dynamic partition
      // overwrite so ONLY the synced months'/dates' partitions are
      // rewritten and earlier history accumulates — the 100 TB shape,
      // where a 1-month sync must not rewrite a multi-year table. The
      // default (off) keeps the reference's drop-and-recreate semantics:
      // the warehouse holds exactly the current window after each run.
      incremental: Boolean = false,
      // statistics-driven write clustering for the normalized load: ONE
      // bounded-state pass sketches the date-key distribution
      // (graft.ext.Skew.measure — the e76 decision numbers) and, when a
      // single partition value owns >= `autoSaltHotMass` of the window
      // (or the null-date partition does), the partitionBy clustering is
      // salted so the hot date writes through `autoSaltFactor` parallel
      // tasks instead of one straggler. The decision row is logged per
      // table. Off by default: the diagnosis costs one extra read pass
      // over the normalized frame, and uniform windows don't need it.
      autoSalt: Boolean = false,
      autoSaltHotMass: Double = 0.2,
      autoSaltFactor: Int = 8)

  final case class TableResult(
      table: String,
      rawRows: Long,
      normRows: Long,
      status: String,
      error: Option[String],
      seconds: Double,
      skippedFiles: Long = 0L)

  final case class RunResult(tables: Seq[TableResult], totalRows: Long)

  /** Extract one source: partitioned (year=/month=) roots get the month
    * window + account predicate pushed into partition pruning; flat
    * roots (no partition columns) fall back to a plain filtered scan.
    *
    * `ignoreCorruptFiles` mirrors the reference's month-level error
    * tolerance (aws_cur.py:138-164: a corrupt month is logged and the
    * remaining months still load) at file granularity: a bad parquet
    * footer inside one month partition skips that file, not the sync. */
  def extract(
      spark: SparkSession,
      root: String,
      window: CurSource.MonthWindow,
      accountIds: Seq[String]): DataFrame =
    withAccountFilter(prunedScan(spark, root, window), accountIds)

  /** The month-pruned scan only — partition-directory pruning, no row
    * filters — so [[auditSkippedFiles]] can compare planned files against
    * files that actually produced rows without row predicates confounding
    * the comparison. */
  private[etl] def prunedScan(
      spark: SparkSession,
      root: String,
      window: CurSource.MonthWindow): DataFrame = {
    val base = spark.read
      .option("mergeSchema", "true")
      .option("ignoreCorruptFiles", "true")
      .parquet(root)
    val cols = base.columns.toSet
    val monthPred =
      if (cols.contains("year") && cols.contains("month"))
        window.months
          .map(m => col("year") === m.getYear && col("month") === m.getMonthValue)
          .reduceOption(_ || _)
      else None
    monthPred.foldLeft(base)(_.filter(_))
  }

  /** Account (and region-rule) filter on the columns normalize will read:
    * account and region resolve through [[Normalize.awsCur]], so a root
    * with alternative column names is filtered like a primary-named one. */
  private def withAccountFilter(pruned: DataFrame, accountIds: Seq[String]): DataFrame = {
    val cols = pruned.columns.toSet
    def resolved(target: String) =
      Normalize.awsCur.find(_.target == target).flatMap(Normalize.resolve(_, cols))
    val acctPred = resolved("account_id").flatMap { account =>
      resolved("region") match {
        case Some(region) => Accounts.predicate(accountIds, col(account), col(region))
        // region column absent from this source: region-ruled accounts
        // degrade to plain membership rather than an unresolvable column
        case None if accountIds.nonEmpty => Some(col(account).isin(accountIds: _*))
        case None => None
      }
    }
    acctPred.foldLeft(pruned)(_.filter(_))
  }

  /** Files planned into the scan that yielded no rows at read time.
    * `ignoreCorruptFiles` skips a bad footer with only an executor WARN;
    * the reference logs and surfaces the failed month (aws_cur.py:138-164)
    * — this makes the omission observable in the sync results.
    *
    * The planned set comes from the pruned PHYSICAL plan's file listing
    * (`FileSourceScanLike.selectedPartitions`), not `Dataset.inputFiles`:
    * inputFiles ignores partition filters for path-based parquet reads,
    * so a source root holding months outside the sync window — the
    * normal production shape as CUR roots accumulate — would count every
    * out-of-window file as "planned" and flip healthy syncs to warnings.
    * The listing is already cached in the relation's FileIndex, so this
    * costs no extra I/O.
    *
    * The read set is one zero-column distributed pass over the pruned
    * scan (no row filters, so every healthy file contributes its rows).
    * With all columns pruned the vectorized reader emits row counts from
    * parquet metadata without decoding any data pages — per file it is a
    * footer read, not a data re-scan. A valid-but-empty file also counts
    * as contributing no rows, which is the honest reading. */
  private[etl] def auditSkippedFiles(pruned: DataFrame): Long = {
    val planned = plannedFileCount(pruned)
    if (planned == 0L) {
      // distinguish "window matched no files" (audit trivially passes)
      // from "the plan has no v1 file scan to inspect" (DSv2 scan or a
      // cached relation) — in the latter case the audit is UNAVAILABLE,
      // not clean, and silence would read as a healthy check
      val leaves = pruned.queryExecution.sparkPlan.collectLeaves()
      val nonFileLeaf = leaves.exists {
        case _: org.apache.spark.sql.execution.FileSourceScanLike => false
        case l => l.getClass.getSimpleName != "EmptyRelationExec"
      }
      if (nonFileLeaf)
        System.err.println("[sync] file audit unavailable: scan is not a v1 file scan " +
          "(DSv2 or cached relation); skipped-file detection disabled for this source")
      return 0L
    }
    val read = pruned.select(input_file_name()).distinct().count()
    math.max(0L, planned - read)
  }

  /** True when normalizing the loader-cleaned raw copy binds every mapped
    * target to the SAME source column (by position) as normalizing the
    * raw headers directly — the reference's semantics (normalize.py:66
    * cleans transform-side only). Loader-side cleaning additionally
    * rewrites `- space .` and digit prefixes (postgresql.py:109-123), so
    * a header like `usage-start-date` resolves to an alternative only
    * AFTER the loader rewrite; normalizing the read-back copy would then
    * bind a different column than a direct normalize. Pure driver-side
    * check on schema names — no job. */
  private[etl] def resolutionAgrees(
      rawCols: Seq[String], mapping: Seq[Normalize.FieldSpec]): Boolean = {
    val direct = Identifiers.cleanTransformColumns(rawCols)
    val viaLoader = Identifiers.cleanTransformColumns(Identifiers.cleanColumns(rawCols))
    mapping.forall { s =>
      val d = Normalize.resolve(s, direct.toSet).map(direct.indexOf)
      val l = Normalize.resolve(s, viaLoader.toSet).map(viaLoader.indexOf)
      d == l
    }
  }

  /** File count from the pruned physical plan — partition filters
    * applied, metadata only (no job). Sums across scans so a future
    * union-of-roots plan stays correct; 0 when the plan has no file scan
    * (e.g. an empty relation). */
  private[etl] def plannedFileCount(pruned: DataFrame): Long =
    pruned.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanLike =>
        s.selectedPartitions.totalNumberOfFiles
    }.sum

  def run(spark: SparkSession, cfg: EngineConfig, loader: Loader, opts: Options): RunResult = {
    // fail BEFORE any load mutates the warehouse: a zero-month window
    // would scan unfiltered (and the incremental read-back re-scope
    // would crash mid-run on its empty predicate, leaving raw mutated
    // but normalized stale)
    require(opts.months >= 1, s"sync window must be >= 1 month, got ${opts.months}")
    val window = CurSource.lastMonths(opts.months, opts.asOf)
    val accountIds: Seq[String] =
      if (opts.allAccounts) Nil else Accounts.activeIds()
    val syncTs = new java.sql.Timestamp(
      java.time.Instant.now().toEpochMilli / 1000 * 1000)

    if (!opts.dryRun) loader.ensureNamespace()

    var processed = Vector.empty[String]
    var results = Vector.empty[TableResult]

    for (path <- cfg.curPaths) {
      val table = Identifiers.tableNameFromPath(path)
      val root = s"${cfg.sourceRoot}/$path"
      val t0 = System.nanoTime()
      try {
        val pruned = prunedScan(spark, root, window)
        val df = withAccountFilter(pruned, accountIds)
        if (opts.dryRun) {
          // O23: plan-only preview — never triggers a job
          println(s"[dry-run] $path -> $table")
          println(s"[dry-run] months: ${window.months.mkString(", ")}")
          println(s"[dry-run] accounts: ${if (accountIds.isEmpty) "ALL" else accountIds.mkString(",")}")
          df.explain(true)
        } else {
          // incremental mode writes raw partitioned by the source month
          // columns under dynamic overwrite: re-syncing a month replaces
          // exactly that month, earlier months stay. A source without
          // year/month columns (flat root) can't month-partition — fall
          // back to replace with a warning rather than corrupt semantics.
          val rawPartCols = Seq("year", "month").filter(df.columns.contains)
          val rawIncremental = opts.incremental && rawPartCols.size == 2
          if (opts.incremental && !rawIncremental)
            System.err.println(s"[sync] $path has no year/month columns; " +
              "incremental raw load degrades to replace for this source")
          val rawRows =
            if (rawIncremental)
              loader.load(df, s"raw_$table", ifExists = "upsert_partitions",
                partitionBy = rawPartCols)
            else loader.load(df, s"raw_$table", ifExists = "replace")
          val normRows =
            if (opts.rawOnly || rawRows == 0L) 0L
            else {
              // Normalize from the just-written raw copy when the sink can
              // serve it back as a distributed scan: ONE pass over the
              // (remote) source per table instead of two. The raw copy
              // carries loader-cleaned names, so this is only taken when
              // resolution provably binds the same source columns either
              // way (see resolutionAgrees); otherwise the source is
              // scanned a second time — correctness over the I/O saving.
              // In incremental mode the raw table accumulates ALL months,
              // so the read-back is re-scoped to this window (a pruned
              // partition read — year/month are its partition columns);
              // without the filter every sync would re-normalize and
              // rewrite the entire history.
              val normSource = loader.readBack(spark, s"raw_$table")
                .filter(_ => resolutionAgrees(df.columns.toSeq, Normalize.awsCur))
                .map { back =>
                  if (!rawIncremental) back
                  else back.filter(window.months
                    .map(m => col("year") === m.getYear && col("month") === m.getMonthValue)
                    .reduce(_ || _))
                }
                .getOrElse(df)
              val normalized = Normalize.normalize(
                normSource, Normalize.awsCur, table, lit(syncTs))
              // serving queries filter/group on date — a date-partitioned
              // layout lets every reader prune to the days it touches.
              // Incremental mode rewrites only the dates IN THIS WINDOW
              // (CUR re-issues whole months, so a month's dates are
              // always complete in the incoming frame). Any date
              // partition shared with another window must not load:
              //  - null dates (try_cast failures on malformed
              //    timestamps) — the null partition is shared across
              //    every window;
              //  - non-null dates OUTSIDE the window (stray adjustment/
              //    refund rows a month export dates into a prior month)
              //    — dynamic overwrite would replace that prior date's
              //    ENTIRE partition with only this window's stray rows.
              // Excluded rows remain in raw for reprocessing.
              val toLoad =
                if (!opts.incremental) normalized
                else {
                  val inWindow = window.months
                    .map(m => year(col("date")) === m.getYear &&
                      month(col("date")) === m.getMonthValue)
                    .reduce(_ || _)
                  normalized.filter(col("date").isNotNull && inWindow)
                }
              // --auto-salt: sketch the date distribution ONCE (bounded
              // state however big the window) and salt the write
              // clustering only when a straggler signal fires —
              // hotMassLB is a LOWER bound on the heaviest date's row
              // fraction (one writer task's share), and a null-heavy
              // date column funnels into the single null partition.
              val clusterSalt =
                if (!opts.autoSalt) 1
                else {
                  val stats = graft.ext.Skew.measure(toLoad, "date")
                  val salted = stats.hotMassLB >= opts.autoSaltHotMass ||
                    stats.nullFraction >= opts.autoSaltHotMass
                  System.err.println(
                    f"[sync] $table auto-salt: n_rows=${stats.nRows} " +
                      f"null_rows=${stats.nullRows} d_est=${stats.distinctEst}%.1f " +
                      f"f2_est=${stats.f2Est}%.6g skew_ratio=${stats.skewRatio}%.2f " +
                      f"hot_mass_lb=${stats.hotMassLB}%.3f null_fraction=${stats.nullFraction}%.3f " +
                      s"-> ${if (salted) s"SALTED writers x${opts.autoSaltFactor}" else "plain clustering"}")
                  if (salted) opts.autoSaltFactor else 1
                }
              val loaded = loader.loadClustered(toLoad, s"${table}_normalized",
                ifExists = if (opts.incremental) "upsert_partitions" else "replace",
                partitionBy = Seq("date"), clusterSalt = clusterSalt)
              // normalize is a row-preserving select over the window's
              // raw rows, so excluded = rawRows - loaded — read off the
              // two writes' existing Observations with no extra action
              // (a separate count() here would re-run the whole
              // normalization once per table per sync).
              if (opts.incremental && loaded < rawRows)
                System.err.println(s"[sync] $table: ${rawRows - loaded} row(s) " +
                  "excluded from the incremental normalized load (null or " +
                  "out-of-window dates — their date partitions are shared " +
                  "with other sync windows); the rows remain in the raw table")
              loaded
            }
          if (rawRows > 0L && !opts.rawOnly) processed :+= table
          // Surface silently-skipped files (see auditSkippedFiles)
          val skipped = if (opts.auditFiles) auditSkippedFiles(pruned) else 0L
          val (status, warn) =
            if (skipped > 0L)
              ("warning", Some(s"$skipped planned file(s) contributed no rows (corrupt or empty)"))
            else ("success", None)
          results :+= TableResult(table, rawRows, normRows, status, warn,
            (System.nanoTime() - t0) / 1e9, skipped)
        }
      } catch {
        case e: Exception => // O24: isolate, log, continue
          System.err.println(s"[sync] $path failed: ${e.getMessage}")
          results :+= TableResult(table, 0L, 0L, "error", Some(e.getMessage),
            (System.nanoTime() - t0) / 1e9)
      }
    }

    // Rebuild the costs view over everything normalized this run
    // (main.py:124-132; recreate-after-load ordering per SURVEY §7.3.4).
    // SQL-addressable sinks get the durable CREATE OR REPLACE VIEW DDL
    // (the reference's persistent PG view); others a session temp view.
    if (processed.nonEmpty && !opts.rawOnly && !opts.dryRun) {
      val refs = processed.map(t => loader.sqlRef(s"${t}_normalized"))
      if (refs.forall(_.isDefined)) CostsView.createDurable(spark, refs.flatten)
      else {
        val normalized = processed.map(t => loader.table(spark, s"${t}_normalized"))
        CostsView.build(normalized).createOrReplaceTempView("costs")
      }
    }

    if (!opts.dryRun) {
      val entries = results.map(r => SyncLog.Entry(
        syncTs, r.table, r.rawRows + r.normRows, r.status, r.error,
        BigDecimal(r.seconds).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
      SyncLog.append(spark, loader, entries)
    }

    RunResult(results, results.map(r => r.rawRows + r.normRows).sum)
  }
}
