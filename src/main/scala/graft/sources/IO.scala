package graft.sources

import graft.core.JTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources & sinks (reference §2.1: `loadtable`, `loadndsparse`, `save`,
  * `load`, `distribute`).
  *
  * The reference's CSV loader options (`src/io.jl:33-64`) map onto Spark's
  * CSV reader; the extras it has beyond Spark's options are implemented
  * here: `filenamecol` (provenance column from the input path),
  * per-file schema unification with missing-column fill
  * (`src/util.jl:169-176`), and column-name canonicalization
  * (`src/util.jl:203-205`). `save`/`load` are a sorted parquet write that
  * preserves the pkey invariant on re-read.
  */
object IO {

  /** Reference `loadtable` options (`src/io.jl:33-64`). Divergences:
    *  - `skiplines_begin` is not supported — Spark's CSV reader has no
    *    skip-N-lines option (use `comment` prefixes or pre-strip); passing
    *    a nonzero value throws rather than silently ignoring it;
    *  - `spacedelim` maps to a single-space separator with leading/trailing
    *    whitespace trimmed; a RUN of spaces between fields (which the
    *    reference's TextParse collapses) yields empty fields — pre-collapse
    *    such files or use a real delimiter. */
  final case class CsvOptions(
      delim: String = ",",
      spacedelim: Boolean = false,
      quotechar: String = "\"",
      escapechar: String = "\\",
      /** Parse quoted embedded newlines (TextParse handles these natively).
        * Off by default: Spark's multiLine CSV mode reads each file as ONE
        * split (no intra-file parallelism) — at 100 TB prefer newline-free
        * exports unless records genuinely embed newlines. Inference follows
        * the same mode, so the sample sees whole records either way. */
      multiline: Boolean = false,
      headerExists: Boolean = true,
      colnames: Seq[String] = Nil,
      nastrings: Seq[String] = Seq(""),
      skiplinesBegin: Int = 0,
      typeDetectRows: Int = 20,
      colparsers: Option[StructType] = None,
      filenamecol: Option[String] = None,
      filenameFn: String => String = identity)

  /** Canonicalize column names (whitespace → underscore, reference
    * `src/util.jl:203-205`). */
  def canonicalize(df: DataFrame): DataFrame = {
    val renamed = df.columns.map(c => c.trim.replaceAll("\\s+", "_"))
    val dups = renamed.groupBy(identity).collect { case (n, g) if g.length > 1 => n }
    require(dups.isEmpty,
      s"column-name canonicalization collides on: ${dups.mkString(", ")} — " +
        "rename the source columns (a duplicate-named frame fails far from the load site)")
    df.columns.zip(renamed).foldLeft(df) { case (d, (o, n)) => d.withColumnRenamed(o, n) }
  }

  /** `loadtable(files; opts)` → DataFrame. One Spark CSV scan over all
    * paths: file listing, splitting, and parallel parse are the built-in
    * reader's job (the reference hand-rolls chunked parallel parsing;
    * Spark's FileScan already partitions by file splits). */
  def loadtable(spark: SparkSession, paths: Seq[String], opts: CsvOptions = CsvOptions(),
                indexcols: Seq[String] = Nil): JTable = {
    require(opts.skiplinesBegin == 0,
      "skiplinesBegin is unsupported on the Spark CSV reader (see CsvOptions doc)")
    require(opts.nastrings.nonEmpty, "nastrings must name at least one NA token")
    def base(r: org.apache.spark.sql.DataFrameReader) = r
      .option("sep", if (opts.spacedelim) " " else opts.delim)
      .option("ignoreLeadingWhiteSpace", opts.spacedelim.toString)
      .option("ignoreTrailingWhiteSpace", opts.spacedelim.toString)
      .option("quote", opts.quotechar)
      .option("escape", opts.escapechar)
      .option("multiLine", opts.multiline.toString)
      .option("header", opts.headerExists.toString)
      .option("nullValue", opts.nastrings.head)
    val reader = opts.colparsers match {
      case Some(schema) => base(spark.read).schema(schema)
      case None =>
        // type_detect_rows (reference `src/io.jl:55-56`): infer the schema
        // from the first N data rows ONLY, then pin it for the full read —
        // at 100 TB a full-scan inference pass costs as much as the query,
        // and the reference's sample-N semantics avoid exactly that.
        // The sample goes THROUGH the CSV reader (limit N, all-string
        // schema), not through raw text lines: the parser consumes each
        // file's header, so a multi-file load can't leak later files'
        // header lines into the sample as data rows, and with
        // `multiline=true` quoted embedded newlines can't split a record
        // mid-field (the sample runs under the same reader mode as the
        // full read, so both see the same records). The N sampled rows are then re-encoded with a
        // \u0001 separator (values containing the separator or a newline
        // are defused to a non-numeric token — such a column is string-
        // typed anyway) and inference runs once on that tiny in-memory set.
        val sampled = base(spark.read).csv(paths: _*).limit(opts.typeDetectRows)
        val names = sampled.columns.toSeq
        val sep = "\u0001"
        val na = opts.nastrings.head
        val encoded: Seq[String] = sampled.collect().toSeq.map { r =>
          (0 until r.length).map { i =>
            val v = r.getString(i)
            if (v == null) na else v.replaceAll("[\u0001\r\n]", "x")
          }.mkString(sep)
        }
        val inferred =
          if (encoded.isEmpty)
            org.apache.spark.sql.types.StructType(names.map(n =>
              org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)))
          else {
            import spark.implicits._
            // quoting/escaping OFF for the synthetic read: the values are
            // already parsed (a value starting with '"' must not re-open a
            // quoted region and swallow separators)
            val raw = spark.read
              .option("sep", sep).option("header", "false")
              .option("quote", "\u0000").option("escape", "\u0000")
              .option("nullValue", na).option("inferSchema", "true")
              .csv(spark.createDataset(encoded)).schema
            require(raw.fields.length == names.length,
              s"inference field count ${raw.fields.length} != ${names.length} columns")
            org.apache.spark.sql.types.StructType(
              names.zip(raw.fields).map { case (n, f) => f.copy(name = n) })
          }
        base(spark.read).schema(inferred)
    }
    var df = reader.csv(paths: _*)
    if (opts.colnames.nonEmpty)
      df = df.toDF(opts.colnames: _*)
    // multi-`nastrings` (reference `src/io.jl:57`): the Spark reader takes
    // ONE nullValue; the rest are nulled post-load. String columns get an
    // explicit isin→null; typed columns already parse the stray tokens to
    // null in the reader's default permissive mode.
    val extraNas = opts.nastrings.drop(1)
    if (extraNas.nonEmpty)
      df = df.select(df.schema.fields.toSeq.map { f =>
        if (f.dataType == org.apache.spark.sql.types.StringType)
          when(col(f.name).isin(extraNas: _*), lit(null)).otherwise(col(f.name)).as(f.name)
        else col(f.name)
      }: _*)
    df = canonicalize(df)
    df = opts.filenamecol match {
      case Some(name) =>
        val fn = udf(opts.filenameFn)
        df.withColumn(name, fn(input_file_name()))
      case None => df
    }
    JTable(df, indexcols)
  }

  /** `loadndsparse(files; indexcols, datacols)` (reference `src/io.jl:19-29`):
    * load as an N-d sparse array. With empty `indexcols` the reference
    * synthesizes the implicit `1:n` index and `offset_index!` renumbers
    * chunks by cumulative offsets (`src/io.jl:151-154`) — here that global
    * renumbering is `JTable.withRowIndex` (partition-offset zipWithIndex):
    * rows are numbered 1..n in load order, the index column becomes the
    * single dimension, and the numbering is identical regardless of how
    * many chunks/partitions the load produced (the reference's
    * across-chunk renumbering guarantee; pinned by the CoreSpec sweep). */
  def loadndsparse(spark: SparkSession, paths: Seq[String],
                   opts: CsvOptions = CsvOptions(),
                   indexcols: Seq[String] = Nil,
                   datacols: Seq[String] = Nil,
                   implicitIndexCol: String = "idx"): graft.operators.NDSparse = {
    val t = loadtable(spark, paths, opts, indexcols)
    if (indexcols.nonEmpty) {
      val values = if (datacols.nonEmpty) datacols
                   else t.columns.filterNot(indexcols.contains)
      graft.operators.NDSparse(t, indexcols, values)
    } else {
      val indexed = t.withRowIndex(implicitIndexCol)
      val values = if (datacols.nonEmpty) datacols
                   else t.columns // every loaded column is data under the implicit index
      graft.operators.NDSparse(indexed, Seq(implicitIndexCol), values)
    }
  }

  /** Multi-file load with differing schemas: per-file frames unified by
    * name, missing columns null-filled (reference `samecols` +
    * missing-column fill, `test/test_readwrite.jl:62-88`). Use only for
    * genuinely heterogeneous file sets — the single-scan path above is the
    * fast path. */
  def loadtableUnify(spark: SparkSession, paths: Seq[String],
                     opts: CsvOptions = CsvOptions()): DataFrame =
    paths.map(p => loadtable(spark, Seq(p), opts).df)
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** JSON-lines source — one JSON object per line, the de-facto
    * interchange format of LLM corpus pipelines (each line a document).
    * Schema is caller-supplied (an inference pass over 100 TB of JSONL
    * would read everything twice); reads are PERMISSIVE with a corrupt-
    * record column, so a malformed line lands as a row with `corruptCol`
    * set instead of failing the job — at corpus scale some lines are
    * always broken, and dropping them must be an explicit, countable
    * filter, not a crash or a silent skip. Like all Spark file sources
    * the scan splits by file (and within uncompressed files by range), so
    * a directory of .jsonl shards parallelizes across the cluster. */
  def loadJsonl(spark: SparkSession, paths: Seq[String],
                schema: org.apache.spark.sql.types.StructType,
                corruptCol: String = "_corrupt_record"): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains(corruptCol)) schema
      else schema.add(corruptCol, org.apache.spark.sql.types.StringType, nullable = true)
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(paths: _*)
  }

  /** JSON-lines sink (one object per line, UTF-8; keys = column names).
    * Standard JSON string escaping round-trips any text byte-exactly —
    * q144 gates the full parquet→jsonl→parquet round trip by content
    * hash. */
  def saveJsonl(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").json(dir)

  /** `save(t, dir)` — columnar persist. The pkey sort order is preserved
    * within files; at cluster scale add `.bucketBy` on the pkey to make
    * re-reads shuffle-free for pkey joins/groupBys. */
  def save(t: JTable, dir: String): Unit =
    t.df.write.mode("overwrite").parquet(dir)

  /** `load(dir)` — re-attach saved chunks; re-establishes the pkey
    * invariant lazily (parquet min/max row-group stats give back the
    * reference's per-chunk IndexSpace pruning for free). */
  def load(spark: SparkSession, dir: String, pkey: Seq[String] = Nil): JTable =
    JTable(spark.read.parquet(dir), pkey)

  /** Persist with a RANGE layout on `sortCols`: repartitionByRange (each
    * file owns a disjoint key range) + a partition-local sort (tight
    * parquet row-group/page min/max stats) + plain parquet. This is the
    * reference's sorted-chunk layout (`src/io.jl:167-236` — chunks carry
    * an IndexSpace and lookups prune whole chunks) re-expressed as
    * Spark's DATA-SKIPPING lever: a range predicate on `sortCols` is
    * pushed into the parquet reader, whose row-group stats now exclude
    * every group outside the range — the scan reads ~selectivity×data
    * instead of all of it. At 100 TB this is THE difference between a
    * time-window query costing a full-corpus scan and costing only the
    * window (the sort is paid once at write; NOTES_r11.md "Data-skipping
    * layouts" records the measured read-side contrast, and
    * IOStreamsSpec pins the mechanism via scan-node output-row metrics).
    * Complements [[saveBucketed]]: bucketing kills the JOIN shuffle for
    * equality keys, the range layout kills the SCAN for range keys. */
  def saveSorted(df: org.apache.spark.sql.DataFrame, dir: String,
                 numFiles: Int, sortCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(dir)
  }

  /** Persist with a HIVE partition layout: `partCols` become directory
    * keys (`dir/col=value/...`), optional `sortCols` sort rows within
    * each partition's files. Queries filtering on `partCols` prune
    * STATICALLY — matching directories are the only thing even LISTED;
    * no footer is opened, no row decoded outside them — which is the
    * strongest of the three skip levers and the canonical events-table
    * layout at 100 TB (partition by day, sort by ts within; saveSorted's
    * row-group stats then serve sub-partition ranges). The repartition
    * on `partCols` gives one writer task per partition value — without
    * it every input task writes a file into every partition directory
    * (the small-files explosion, measured as the 256-footer cold-read
    * tax in NOTES_r11.md "Data-skipping layouts").
    *
    * Keep partition values low-cardinality and coarse (a DAY of events,
    * not a user id): each value is a directory, and a 100 TB table with
    * millions of tiny partitions moves the cost into the metadata
    * listing instead of the scan. */
  def savePartitioned(df: org.apache.spark.sql.DataFrame, dir: String,
                      partCols: Seq[String], sortCols: Seq[String] = Nil,
                      filesPerPartition: Int = 1): Unit =
    writePartitioned(df, dir, partCols, sortCols, filesPerPartition, dynamic = false)

  private def writePartitioned(df: org.apache.spark.sql.DataFrame, dir: String,
                               partCols: Seq[String], sortCols: Seq[String],
                               filesPerPartition: Int, dynamic: Boolean): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    require(filesPerPartition >= 1, s"filesPerPartition must be ≥ 1, got $filesPerPartition")
    // filesPerPartition > 1 splits each partition VALUE across that many
    // files via a deterministic salt hashed from the sort key — a window
    // query inside one partition then parallelizes across that many
    // tasks instead of funneling into one (measured: the 1-file-per-day
    // hive arm decodes its whole window in a single task, losing to a
    // full unsorted scan's 32-way spread on local wall-time). Each file
    // still ts-sorts internally, so row-group stats keep serving
    // sub-partition ranges.
    val (salted, reKeys) =
      if (filesPerPartition == 1) (df, partCols)
      else {
        require(sortCols.nonEmpty,
          "filesPerPartition > 1 derives the file salt from sortCols — provide at least one")
        (df.withColumn("__file_salt",
          pmod(xxhash64(sortCols.map(col): _*), lit(filesPerPartition))),
          partCols :+ "__file_salt")
      }
    val w = salted.repartition(reKeys.map(col): _*)
      .sortWithinPartitions((reKeys ++ sortCols).map(col): _*)
      .drop("__file_salt")
      .write.mode("overwrite")
    // dynamic mode replaces ONLY the partition directories present in the
    // data — the mechanism upsertPartitions rides; static overwrite (the
    // default) clears the whole dir first
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy(partCols: _*).parquet(dir)
  }

  /** Persist with a Z-ORDER layout: rows sorted along a 2-D Morton curve
    * over `zCols`, so row-group min/max stats stay tight on BOTH columns
    * at once — a range predicate on EITHER dimension skips most groups,
    * where [[saveSorted]] serves only its leading column. The classic
    * lakehouse layout for tables queried by more than one key (events by
    * user AND by time). Implementation: one aggregate pass collects each
    * column's [min,max] (driver-tiny, the sq8Train pattern), values map
    * to 16-bit buckets, bucket bits interleave into the Morton value,
    * range-partition + sort on it, drop it before writing — the
    * clustering lives in the LAYOUT, not in a stored column. */
  def saveZOrdered(df: org.apache.spark.sql.DataFrame, dir: String,
                   numFiles: Int, zCols: (String, String)): Unit = {
    import org.apache.spark.sql.functions._
    val (a, b) = zCols
    val mm = df.agg(min(col(a)).cast("double"), max(col(a)).cast("double"),
      min(col(b)).cast("double"), max(col(b)).cast("double")).head()
    require(!mm.anyNull, s"saveZOrdered: all-null z column among $zCols")
    def bucket(c: String, lo: Double, hi: Double): org.apache.spark.sql.Column =
      if (hi == lo) lit(0L)
      else least(lit(65535L), greatest(lit(0L),
        floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * 65535.0)))
    val ba = bucket(a, mm.getDouble(0), mm.getDouble(1))
    val bb = bucket(b, mm.getDouble(2), mm.getDouble(3))
    val z = (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftright(ba, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(bb, i).bitwiseAND(lit(1L)), 2 * i)
    }
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(dir)
  }

  /** Compact a [[savePartitioned]] table's oversized partitions — the
    * maintenance companion of [[upsertPartitions]], whose repeated deltas
    * accumulate small files (each upsert writes ≥ 1 file per touched
    * partition; the cold-read cost of small files is MEASURED — the
    * 256-file layout ≈ one full sequential scan, SCALE.md). Only
    * partitions holding more than `filesPerPartition` parquet files are
    * read and rewritten (dynamic overwrite), so steady-state compaction
    * cost follows churn, not table size. Single partition column (the
    * day-layout case); values are parsed from the directory names. */
  def compactPartitions(spark: SparkSession, dir: String, partCol: String,
                        sortCols: Seq[String] = Nil,
                        filesPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val root = java.nio.file.Paths.get(dir)
    val oversized = java.nio.file.Files.list(root).toArray.map(_.toString)
      .map(java.nio.file.Paths.get(_))
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(s"$partCol="))
      .filter { p =>
        java.nio.file.Files.list(p).toArray.map(_.toString)
          .count(_.endsWith(".parquet")) > filesPerPartition
      }
      .map(_.getFileName.toString.stripPrefix(s"$partCol="))
    if (oversized.isEmpty) return
    val subset = spark.read.parquet(dir)
      // string values coerce against the inferred partition type (date,
      // int, …) — the same comparison the user's own filters make
      .filter(oversized.map(v => col(partCol) === lit(v)).reduce(_ || _))
      .localCheckpoint(true) // reads the directories the write replaces
    writePartitioned(subset, dir, Seq(partCol), sortCols, filesPerPartition,
      dynamic = true)
  }

  /** Partition-targeted CDC upsert into a [[savePartitioned]] table: rows
    * in `updates` replace same-key rows, new keys append — and ONLY the
    * partition directories `updates` touches are read and rewritten
    * (dynamic partition overwrite), so maintenance cost scales with the
    * day's delta, not the 100 TB table. This is the incremental-
    * maintenance form of the reference's `setindex!`/keyed upsert
    * (`src/indexing.jl:70-103`, q80 gates the in-memory operator).
    *
    * Contract: the partition columns are part of the logical key — an
    * update that MOVES a key to a different partition value must be a
    * delete+insert (the old partition is not touched and would keep the
    * stale row); duplicate keys within `updates` are kept as-is (dedupe
    * upstream). The merged delta is localCheckpoint-materialized before
    * the write because it reads the very directories it overwrites —
    * proportionate to the touched partitions, never the table. */
  def upsertPartitions(spark: SparkSession, dir: String,
                       updates: org.apache.spark.sql.DataFrame,
                       partCols: Seq[String], keyCols: Seq[String],
                       sortCols: Seq[String] = Nil,
                       filesPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    require(partCols.nonEmpty, "upsertPartitions needs partition columns")
    require(keyCols.nonEmpty, "upsertPartitions needs key columns")
    // first delta against a not-yet-existing table: nothing to merge —
    // the updates ARE the table (cdcSink's bootstrap case)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) {
      writePartitioned(updates, dir, partCols, sortCols, filesPerPartition,
        dynamic = true)
      return
    }
    // touched partition VALUES are driver-small by definition (each is a
    // directory of the table)
    val touched = updates.select(partCols.map(col): _*).distinct().collect()
    if (touched.isEmpty) return
    val pFilter = touched.map { r =>
      partCols.zipWithIndex.map { case (c, i) => col(c) === lit(r.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    val existing = spark.read.parquet(dir).filter(pFilter)
    val merged = existing
      .join(updates.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(updates.select(existing.columns.map(col): _*))
      .localCheckpoint(true)
    writePartitioned(merged, dir, partCols, sortCols, filesPerPartition,
      dynamic = true)
  }

  /** Delete-aware CDC merge — [[upsertPartitions]] plus tombstones (the
    * WHEN MATCHED DELETE half of a MERGE statement): `changes` carries an
    * `opCol` of "upsert" | "delete"; upserts replace by key, delete keys
    * are removed, and both only touch the partition directories the
    * change batch names. A partition whose every row is deleted is
    * removed from disk (dynamic overwrite alone would leave its stale
    * files — the write only replaces partitions PRESENT in the output;
    * the directory delete closes that hole, spec-pinned). Delete rows
    * need only (partCols ++ keyCols ++ opCol); other columns are
    * ignored. Partition values are part of the logical key, as with
    * upsertPartitions. Any other opCol value fails loudly per row. */
  def upsertPartitionsCdc(spark: SparkSession, dir: String,
                          changes: org.apache.spark.sql.DataFrame,
                          partCols: Seq[String], keyCols: Seq[String],
                          opCol: String, sortCols: Seq[String] = Nil,
                          filesPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions.{col, lit, assert_true, coalesce, concat}
    require(partCols.nonEmpty, "upsertPartitionsCdc needs partition columns")
    require(keyCols.nonEmpty, "upsertPartitionsCdc needs key columns")
    val opGuard = assert_true(col(opCol).isin("upsert", "delete"),
      concat(lit(s"upsertPartitionsCdc: $opCol must be 'upsert' or " +
        "'delete', got: "), coalesce(col(opCol), lit("null"))))
    val checked = changes.withColumn(opCol,
      coalesce(opGuard.cast("string"), col(opCol)))
    val ups = checked.filter(col(opCol) === "upsert").drop(opCol)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) {
      // bootstrap: deletes against an empty table are no-ops
      writePartitioned(ups, dir, partCols, sortCols, filesPerPartition,
        dynamic = true)
      return
    }
    val touched = checked.select(partCols.map(col): _*).distinct().collect()
    if (touched.isEmpty) return
    val pFilter = touched.map { r =>
      partCols.zipWithIndex.map { case (c, i) => col(c) === lit(r.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    val existing = spark.read.parquet(dir).filter(pFilter)
    // both ops displace the existing key; only upserts re-insert
    val merged = existing
      .join(checked.select((partCols ++ keyCols).map(col): _*),
        partCols ++ keyCols, "left_anti")
      .unionByName(ups.select(existing.columns.map(col): _*))
      .localCheckpoint(true)
    writePartitioned(merged, dir, partCols, sortCols, filesPerPartition,
      dynamic = true)
    // fully-deleted partitions: present in `touched`, absent from the
    // rewritten output — their directories must go (see scaladoc)
    val survivors = merged.select(partCols.map(col): _*).distinct().collect()
      .map(_.toSeq).toSet
    touched.filterNot(r => survivors.contains(r.toSeq)).foreach { r =>
      val sub = partCols.zipWithIndex
        .map { case (c, i) => s"$c=${r.get(i)}" }.mkString("/")
      val p = java.nio.file.Paths.get(dir, sub)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
  }

  /** Incremental aggregate maintenance (materialized-view upsert): merge a
    * DELTA's per-key partial aggregates into a persisted agg table,
    * rewriting ONLY the partition directories the delta touches — the
    * aggregation-state analog of [[upsertPartitions]] (which replaces
    * whole rows; here matching keys MERGE via `mergeFns`). This is what
    * keeps a 100 TB-corpus rollup queryable without nightly recompute:
    * maintenance cost ∝ delta × touched partitions, and a full recompute
    * equals the maintained table exactly whenever every aggregate is
    * mergeable and exact — counts, longs, DECIMAL sums (addition is
    * associative+commutative), min/max. Double sums are NOT exact under
    * regrouping — route them through a decimal cast (the dsum/FixedPoint
    * contract), which q156 gates end-to-end against a from-scratch oracle.
    *
    * `delta` must already be aggregated to one row per (partCols ++
    * keyCols) — callers hold the agg exprs, this function holds the merge
    * algebra: for each (name, fn) in `mergeFns`, merged = fn(existing,
    * incoming) when both sides have the key, the surviving side verbatim
    * otherwise. Schema: partCols ++ keyCols ++ mergeFns.map(_._1). */
  def upsertAggregate(spark: SparkSession, dir: String,
                      delta: org.apache.spark.sql.DataFrame,
                      partCols: Seq[String], keyCols: Seq[String],
                      mergeFns: Seq[(String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column)],
                      filesPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(partCols.nonEmpty, "upsertAggregate needs partition columns")
    require(keyCols.nonEmpty, "upsertAggregate needs key columns")
    require(mergeFns.nonEmpty, "upsertAggregate needs at least one aggregate column")
    val cols = partCols ++ keyCols ++ mergeFns.map(_._1)
    val deltaC = delta.select(cols.map(col): _*)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) {
      writePartitioned(deltaC, dir, partCols, Nil, filesPerPartition,
        dynamic = true)
      return
    }
    val touched = deltaC.select(partCols.map(col): _*).distinct().collect()
    if (touched.isEmpty) return
    val pFilter = touched.map { r =>
      partCols.zipWithIndex.map { case (c, i) => col(c) === lit(r.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    val existing = spark.read.parquet(dir).filter(pFilter)
    val incoming = mergeFns.foldLeft(deltaC) { case (df, (n, _)) =>
      df.withColumnRenamed(n, s"__in_$n")
    }
    val joinKeys = partCols ++ keyCols
    val merged = existing.join(incoming, joinKeys, "full_outer")
      .select(joinKeys.map(col) ++ mergeFns.map { case (n, fn) =>
        val (e, i) = (col(n), col(s"__in_$n"))
        when(e.isNull, i).when(i.isNull, e).otherwise(fn(e, i)).as(n)
      }: _*)
      .localCheckpoint(true) // reads the directories the write replaces
    writePartitioned(merged, dir, partCols, Nil, filesPerPartition,
      dynamic = true)
  }

  /** Raw binary-file source — the ingestion door for the multimodal
    * column family ([[graft.functions.Multimodal]] operates on `binary`
    * columns; this is where they come from): every file under `path`
    * (non-recursive glob semantics are Spark's `binaryFile` source's)
    * becomes a row of (path, modificationTime, length, content). Schema
    * is fixed by the source — no inference pass. ZERO-LENGTH files are
    * skipped by Spark's file listing (spec-pinned): an empty media blob
    * is not a row, so count reconciliation against a manifest must
    * exclude empties. At scale the source
    * parallelizes by files; pair with `pathGlobFilter` for extension
    * routing and compact small files into parquet binary columns early
    * (one 100 TB table of (id, media, metadata) beats 10⁹ small files —
    * the recommended pipeline is load → project → write parquet, then
    * everything downstream reads the columnar form). */
  def loadBinary(spark: SparkSession, path: String,
                 globFilter: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    globFilter.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** Slowly-changing-dimension TYPE-2 merge — the warehouse-maintenance
    * companion of [[upsertPartitions]] (which is SCD type 1: overwrite in
    * place). A versioned dimension row is (key, tracked attrs,
    * `valid_from`, `valid_to`), with `valid_to IS NULL` marking the
    * current version. Applying a delta snapshot at `batchTs`:
    *
    *  - closed (historical) rows pass through untouched;
    *  - an open row whose delta attrs DIFFER (null-safe comparison)
    *    closes at `batchTs` and a new open version is inserted;
    *  - an open row whose delta attrs match stays as-is (no spurious
    *    version — re-feeding the same snapshot is idempotent);
    *  - a delta key with no open row inserts a first open version;
    *  - an open row with no delta row stays open: the delta is an
    *    UPSERT feed, not a full snapshot (deletions are out of scope —
    *    model them as a tombstone attribute).
    *
    * Monotonicity contract: `batchTs` must exceed every `valid_from`
    * already open — checked per matched row (fails loudly rather than
    * emitting a version whose interval would be inverted; an
    * equal-timestamp re-feed is the idempotent case above, legal).
    *
    * Shuffle shape: ONE equi-join of open rows × delta on the dimension
    * key, plus the pass-through union of closed rows (at rest, split
    * storage by `valid_to IS NULL` so the closed majority is never even
    * read — the open fraction of a 100 TB dimension is what joins).
    * Returns the merged versioned table; persistence is the caller's
    * (pair with [[savePartitioned]]/[[upsertPartitions]]). */
  def scdMerge(current: DataFrame, delta: DataFrame, keyCols: Seq[String],
               trackedCols: Seq[String], batchTs: Long,
               fromCol: String = "valid_from",
               toCol: String = "valid_to"): DataFrame = {
    require(keyCols.nonEmpty, "scdMerge needs key columns")
    require(trackedCols.nonEmpty, "scdMerge needs tracked columns")
    val outCols = (keyCols ++ trackedCols).map(col) ++
      Seq(col(fromCol), col(toCol))
    val closed = current.filter(col(toCol).isNotNull).select(outCols: _*)
    val open = current.filter(col(toCol).isNull)
    val d = delta.select((keyCols ++ trackedCols).map(col): _*)
      .withColumn("__present", lit(true))
    val dRenamed = trackedCols.foldLeft(d) { case (df, c) =>
      df.withColumnRenamed(c, s"__d_$c")
    }
    val j = open.join(dRenamed, keyCols, "full_outer")
    val changed = trackedCols.map(c => !(col(c) <=> col(s"__d_$c")))
      .reduce(_ || _)
    val tsGuard = assert_true(col(fromCol) <= batchTs,
      concat(lit(s"scdMerge: batchTs $batchTs precedes an open version's " +
        s"$fromCol ("), col(fromCol),
        lit(") — feed batches in timestamp order")))
    // open × delta outcomes, each branch a filter over the ONE join:
    //  survivors: open rows that stay open (no delta, or delta equal)
    val surviving = j.filter(col(fromCol).isNotNull &&
        (col("__present").isNull || (!changed)))
      .select(outCols: _*)
    //  closures: open rows whose delta differs → valid_to = batchTs
    val closedNow = j.filter(col(fromCol).isNotNull &&
        col("__present").isNotNull && changed)
      .withColumn(toCol, coalesce(tsGuard.cast("long"), lit(batchTs)))
      .select(outCols: _*)
    //  inserts: new version for changed keys + first version for new keys
    val inserted = j.filter(col("__present").isNotNull &&
        (col(fromCol).isNull || changed))
      .select((keyCols.map(col) ++
        trackedCols.map(c => col(s"__d_$c").as(c)) ++
        Seq(lit(batchTs).as(fromCol), lit(null).cast("long").as(toCol))): _*)
    closed.union(surviving).union(closedNow).union(inserted)
  }

  /** Persist with the pkey baked into the physical layout: bucketed +
    * sorted by the pkey. This is the cluster-scale form of the reference's
    * saved sorted chunks (`src/io.jl:167-236`) — every later join/groupBy
    * on the pkey reads shuffle-free (bucket pruning + no Exchange), i.e.
    * the shuffle is paid once at write time, not per query. */
  def saveBucketed(t: JTable, tableName: String, buckets: Int): Unit = {
    require(t.pkey.nonEmpty, "saveBucketed requires a pkey")
    // repartition onto the bucket keys first: one writer task per bucket →
    // exactly one file per bucket. Without this, every input partition
    // writes a file into every bucket (N×buckets small files). The read
    // win of bucketing is the eliminated Exchange; a partition-local Sort
    // remains (Spark doesn't consume sortBy metadata in SMJ, SPARK-19256).
    t.df.repartition(buckets, t.pkey.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, t.pkey.head, t.pkey.tail: _*)
      .sortBy(t.pkey.head, t.pkey.tail: _*)
      .saveAsTable(tableName)
  }

  /** Load a bucketed table; the pkey is derived from the catalog's bucket
    * spec (bucket columns must equal sort-column prefix), not caller-
    * supplied — a mismatched claim would silently corrupt downstream
    * pkey-trusting operations. */
  def loadBucketed(spark: SparkSession, tableName: String): JTable = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tableName))
    val spec = meta.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"$tableName is not bucketed"))
    require(spec.sortColumnNames.startsWith(spec.bucketColumnNames),
      s"bucket columns ${spec.bucketColumnNames} not a sort prefix ${spec.sortColumnNames}")
    JTable.assumeCoPartitioned(spark.table(tableName), spec.bucketColumnNames)
  }

  /** Drop a MANAGED table and clear its on-disk warehouse location — the
    * re-runnable-fixture companion to [[saveBucketed]]. The catalog drop
    * alone is not enough across JVMs: a previous process's run leaves the
    * managed directory on disk while THIS process's fresh in-memory
    * catalog has no entry to drop, so the next saveAsTable fails with
    * LOCATION_ALREADY_EXISTS.
    *
    * The location is resolved through java.net.URI, not a
    * stripPrefix("file:") hack — the warehouse conf appears as a bare
    * path, `file:/p`, or `file:///p` depending on how the session was
    * built, and the string hack mishandles the `//` forms. Before
    * deleting anything the resolved path is SCOPE-CHECKED to be a strict
    * child of the warehouse dir (table names like `../x` or an
    * unexpected conf value must never aim a recursive delete outside the
    * warehouse). Spark lowercases managed-table directory names, hence
    * the toLowerCase. */
  def dropManagedTable(spark: SparkSession, table: String): Unit = {
    val whConf = spark.conf.get("spark.sql.warehouse.dir")
    val wh = {
      val uri = try new java.net.URI(whConf) catch { case _: Exception => null }
      val p = if (uri == null || uri.getScheme == null) whConf else uri.getPath
      java.nio.file.Paths.get(p).toAbsolutePath.normalize()
    }
    val loc = wh.resolve(table.toLowerCase(java.util.Locale.ROOT)).normalize()
    // scope check BEFORE touching anything — catalog included: a name
    // that escapes the warehouse is malformed, period
    require(loc.startsWith(wh) && loc != wh,
      s"refusing to delete $loc: not strictly inside warehouse dir $wh")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** SQL/db source (reference's MySQL example, `docs/src/tutorial.md:706-720`):
    * read a table or `(SELECT …) q` subquery through JDBC. At scale, pass
    * `partitioning = (column, lower, upper, n)` so the read issues n
    * range-split queries in parallel instead of one serial cursor — the
    * single-connection form does NOT parallelize and is only for small
    * dimension pulls. */
  def loadJdbc(spark: SparkSession, url: String, table: String,
               options: Map[String, String] = Map.empty,
               partitioning: Option[(String, Long, Long, Int)] = None,
               pkey: Seq[String] = Nil): JTable = {
    var reader = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    partitioning.foreach { case (c, lo, hi, n) =>
      reader = reader.option("partitionColumn", c)
        .option("lowerBound", lo).option("upperBound", hi)
        .option("numPartitions", n)
    }
    JTable(reader.load(), pkey)
  }

  /** `Iterators.partition(t, n)` — driver-side batched iteration without
    * materializing the whole table (reference `src/iteration.jl:3-60`). */
  def partitionIterator(df: DataFrame, batch: Int): Iterator[Seq[org.apache.spark.sql.Row]] = {
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala.grouped(batch)
  }

  // ------------------------------------------------------------------
  // Versioned snapshot table: manifest-pointer time travel (the table-
  // format idea — Iceberg/Delta's core isolation mechanism — in its
  // minimal parquet-native form). Each save writes a fresh immutable
  // data directory, then a manifest listing exactly its files, then
  // atomically flips a `_latest` pointer (write-temp + rename — atomic
  // on POSIX and HDFS). Readers resolve pointer → manifest → explicit
  // file list, so they NEVER see a partial write, a concurrent save
  // never disturbs a running reader (old files are immutable), and any
  // historical version stays queryable until vacuumed. At 100 TB this
  // is the difference between "overwrite = readers crash or see mixed
  // data" and safe continuous publication.
  // ------------------------------------------------------------------

  private def snapshotManifestDir(dir: String) = s"$dir/_manifests"

  /** Write `df` as the next snapshot version of `dir`; returns the new
    * version number (1-based). `sourceTag` (optional, no whitespace)
    * rides the pointer file AFTER the version number — the publish and
    * the publisher's replay marker then commit in the SAME atomic move,
    * which is what lets [[graft.streaming.Streams.snapshotSink]] be
    * replay-idempotent with no crash window between "version published"
    * and "batch recorded". Readers parse only the first token. */
  def saveSnapshot(df: DataFrame, dir: String, sourceTag: String = ""): Int = {
    require(!sourceTag.exists(_.isWhitespace),
      s"sourceTag must not contain whitespace: '$sourceTag'")
    val spark = df.sparkSession
    val next = snapshotVersions(spark, dir).lastOption.getOrElse(0) + 1
    val dataDir = s"$dir/v$next"
    df.write.mode("errorifexists").parquet(dataDir)
    val files = new java.io.File(dataDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
    require(files.nonEmpty, s"snapshot v$next wrote no parquet files")
    val mDir = java.nio.file.Paths.get(snapshotManifestDir(dir))
    java.nio.file.Files.createDirectories(mDir)
    val manifest = files.mkString("\n")
    java.nio.file.Files.writeString(mDir.resolve(s"v$next.manifest"), manifest)
    // atomic pointer flip: readers either see the old version or the new,
    // never an in-between
    val tmp = mDir.resolve(s"_latest.tmp$next")
    java.nio.file.Files.writeString(tmp,
      if (sourceTag.isEmpty) next.toString else s"$next $sourceTag")
    java.nio.file.Files.move(tmp, mDir.resolve("_latest"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** The `sourceTag` committed with the current snapshot pointer of
    * `dir`, if any — the atomic replay marker [[saveSnapshot]] wrote. */
  def latestSnapshotTag(dir: String): Option[String] = {
    val p = java.nio.file.Paths.get(snapshotManifestDir(dir), "_latest")
    if (!java.nio.file.Files.exists(p)) None
    else java.nio.file.Files.readString(p).trim.split("\\s+").drop(1)
      .headOption
  }

  /** Committed snapshot versions of `dir`, ascending. */
  def snapshotVersions(spark: SparkSession, dir: String): Seq[Int] = {
    val m = new java.io.File(snapshotManifestDir(dir))
    if (!m.isDirectory) Seq.empty
    else m.listFiles().map(_.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toInt }
      .sorted.toSeq
  }

  /** Read a snapshot: the latest committed version, or `version` for
    * time travel. The read plans over the manifest's EXPLICIT file list —
    * files written by later versions are invisible by construction. */
  def loadSnapshot(spark: SparkSession, dir: String,
                   version: Int = -1): DataFrame = {
    val versions = snapshotVersions(spark, dir)
    require(versions.nonEmpty, s"no snapshots at $dir")
    val v = if (version == -1) {
      // the pointer, not max(versions): a crashed save may have left a
      // manifest without flipping the pointer — the commit point is the flip
      val p = java.nio.file.Paths.get(snapshotManifestDir(dir), "_latest")
      java.nio.file.Files.readString(p).trim.split("\\s+")(0).toInt
    } else {
      require(versions.contains(version),
        s"snapshot v$version not found at $dir (have: ${versions.mkString(",")})")
      version
    }
    val files = java.nio.file.Files.readString(
      java.nio.file.Paths.get(snapshotManifestDir(dir), s"v$v.manifest"))
      .split("\n").toSeq.filter(_.nonEmpty)
    spark.read.parquet(files: _*)
  }

  /** Delete snapshots older than the last `keepLast` (the LATEST pointer
    * target always survives regardless). Returns the dropped versions.
    * The maintenance half of the snapshot contract: history is
    * queryable until vacuumed, and vacuuming is an explicit, logged
    * act — never a side effect of writing. */
  def vacuumSnapshots(spark: SparkSession, dir: String,
                      keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val versions = snapshotVersions(spark, dir)
    val latest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(snapshotManifestDir(dir), "_latest"))
      .trim.split("\\s+")(0).toInt
    val keep = versions.takeRight(keepLast).toSet + latest
    val dropped = versions.filterNot(keep)
    dropped.foreach { v =>
      val dataDir = java.nio.file.Paths.get(dir, s"v$v")
      if (java.nio.file.Files.exists(dataDir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dataDir).iterator().asScala.toSeq
          .reverse.foreach(java.nio.file.Files.delete)
      }
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(snapshotManifestDir(dir), s"v$v.manifest"))
    }
    dropped
  }
}
