package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.SchemaBridge
import org.apache.spark.sql.types.{DataType, StructType}

import graft.pipeline.Upsert
import graft.streaming.{AtomicRenameCommitter, SnapshotCommitter}

/** The one read path of manifest tables: the committed manifest (and its
  * zone maps and bloom sidecars) surfaced to Catalyst as a custom
  * [[FileIndex]], so pruning needs no special read API:
  * `readTable(...).filter(ts between lo and hi)` plans a scan whose
  * `listFiles` receives the PUSHED data filters and answers with only the
  * partitions whose committed [min,max] can intersect them. Every reader
  * of committed state — current, partition-scoped, as-of, the change
  * feed and the mutators' scoped reads — builds its relation through
  * [[read]], so pruning, [[graft.plans.MetadataOnlyCount]] and
  * [[graft.plans.StatsJoinReorder]] apply to all of them. The DataFrame
  * stays fully declarative (pushdown, pruning, codegen all apply) — the
  * same division of labor Delta/Iceberg use (their DataSourceV2 scan
  * builders consult table metadata; this engine's tables speak
  * DataSourceV1's `FileIndex`, the seam the parquet relation already
  * planned through).
  *
  * Conservative by construction: only BARE-column comparisons against
  * foldable numeric literals prune (conjunctions split; cast-wrapped
  * attributes refused — see [[ManifestTable.boundOf]]); anything else —
  * and any partition without recorded stats — keeps the partition.
  * Pruning never changes results, only which dirs get listed.
  */
object ManifestTable {

  /** The committed table as a Catalyst-planned relation over a
    * [[ManifestFileIndex]] — the same relation as
    * [[Upsert.readTable]].
    */
  def readTableIndexed(spark: SparkSession, tablePath: String,
                       committer: SnapshotCommitter = AtomicRenameCommitter): DataFrame =
    Upsert.readTable(spark, tablePath, committer)

  /** Read `entries` (manifest partition key → rel) of the state `manifest`
    * describes: a relation over a [[ManifestFileIndex]] restricted to
    * those entries, bound to `schema` (physical names, read all-nullable
    * like any file-source read with a user schema) or by default to the
    * committed schema with its committed nullability (footer inference
    * only for tables committed before schema metadata existed), with the
    * entries' pending MoR sidecars applied and the LOGICAL column names on
    * top. Empty `entries` is a zero-file scan under the same schema.
    */
  private[graft] def read(spark: SparkSession, tablePath: String,
                          manifest: Map[String, String],
                          entries: Map[String, String],
                          schema: Option[StructType] = None): DataFrame = {
    val dataSchema = schema.map(SchemaBridge.asNullable)
        .orElse(Upsert.committedSchemaOf(manifest)).getOrElse {
      val from = if (entries.nonEmpty) entries else Upsert.dataEntries(manifest)
      spark.read.parquet(from.values.map(rel => s"$tablePath/$rel").toSeq: _*).schema
    }
    val physical = spark.baseRelationToDataFrame(HadoopFsRelation(
      location = new ManifestFileIndex(spark, tablePath, manifest, entries),
      partitionSchema = new StructType(),
      // a committed non-null column stays non-null (count(col) folds to
      // count(*)): every commit records a column nullable once any
      // committed dir may hold its nulls (Upsert.withNullsOf)
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark))
    // logical names (and the MoR sidecar composition) compose ABOVE the
    // relation: Catalyst pushes filters through the rename Project — and
    // through the anti-join's left side / into both union branches — so
    // the FileIndex keeps consulting its physical-named zone maps and
    // bloom sidecars for the BASE files while pending delta rows answer
    // the same filters directly
    Upsert.toLogical(Upsert.applyMor(spark, physical, manifest, tablePath,
      Some(entries.keySet)), manifest)
  }

  /** Allowed interval [lo, hi] a single comparison conjunct imposes on a
    * named column, if it is of the prunable shape — a BARE attribute
    * compared to a foldable numeric literal, in either operand order.
    * Cast-wrapped attributes deliberately do NOT prune: a truncating or
    * narrowing cast (`col("x").cast("long") <= 5`) changes the value the
    * predicate sees, so comparing the RAW column's zone map against the
    * literal could skip a partition that holds matching rows — the one
    * failure direction zone maps must never have. (Literal-side casts are
    * fine: the literal is evaluated through its cast.) Equality pins a
    * point; strict bounds are treated inclusively (safe: pruning may only
    * ever KEEP more).
    */
  private[graft] def boundOf(e: Expression): Option[(String, Double, Double)] = {
    def attrName(x: Expression): Option[String] = x match {
      case a: Attribute => Some(a.name)
      case _ => None
    }
    def litVal(x: Expression): Option[Double] = x match {
      case l: Literal if l.value != null &&
          l.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        Some(l.value.toString.toDouble)
      case Cast(l: Literal, t, _, _) if l.value != null => litValCast(l, t)
      case _ => None
    }
    // (attr-bound for attr-first form, attr-bound for literal-first form)
    def sided(a: Expression, v: Expression,
              attrFirst: Double => (Double, Double),
              litFirst: Double => (Double, Double)): Option[(String, Double, Double)] =
      (attrName(a), litVal(v)) match {
        case (Some(n), Some(x)) => val (lo, hi) = attrFirst(x); Some((n, lo, hi))
        case _ => (attrName(v), litVal(a)) match {
          case (Some(n), Some(x)) => val (lo, hi) = litFirst(x); Some((n, lo, hi))
          case _ => None
        }
      }
    e match {
      case GreaterThanOrEqual(a, v) =>
        sided(a, v, x => (x, Double.MaxValue), x => (Double.MinValue, x))
      case GreaterThan(a, v) =>
        sided(a, v, x => (x, Double.MaxValue), x => (Double.MinValue, x))
      case LessThanOrEqual(a, v) =>
        sided(a, v, x => (Double.MinValue, x), x => (x, Double.MaxValue))
      case LessThan(a, v) =>
        sided(a, v, x => (Double.MinValue, x), x => (x, Double.MaxValue))
      case EqualTo(a, v) => sided(a, v, x => (x, x), x => (x, x))
      case _ => None
    }
  }

  private def litValCast(l: Literal, t: DataType): Option[Double] =
    try Option(Cast(l, t).eval(null)).map(_.toString.toDouble)
    catch { case _: Throwable => None }

  private[graft] def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  /** The point-lookup values a single conjunct pins a named column to, if
    * it has the bloom-prunable shape: a BARE attribute `=` a literal (in
    * either operand order) or `IN` an all-literal list. Same conservatism
    * as [[boundOf]]: cast-wrapped attributes refuse to prune (the bloom
    * recorded the RAW column's values), and null literals are dropped
    * from the list (`=`/`IN` never match null — a partition is skipped
    * only when every remaining value is provably absent). An emptied list
    * returns None: "matches nothing" is the exact filter's call, not the
    * pruner's.
    */
  private[graft] def pointsOf(e: Expression): Option[(String, Seq[Any])] = {
    def bare(x: Expression): Option[String] = x match {
      case a: Attribute => Some(a.name)
      case _ => None
    }
    val raw: Option[(String, Seq[Any])] = e match {
      case EqualTo(a: Attribute, l: Literal) => Some((a.name, Seq(l.value)))
      case EqualTo(l: Literal, a: Attribute) => Some((a.name, Seq(l.value)))
      case In(a, list) if bare(a).isDefined && list.nonEmpty &&
          list.forall(_.isInstanceOf[Literal]) =>
        Some((bare(a).get, list.map(_.asInstanceOf[Literal].value)))
      case _ => None
    }
    raw.map { case (n, vs) => (n, vs.filter(_ != null)) }
      .filter(_._2.nonEmpty)
  }
}

/** [[FileIndex]] over `entries` of the committed state `manifest`:
  * `listFiles` consults the committed zone maps and bloom sidecars against
  * the pushed data filters and lists ONLY the surviving entries' dirs —
  * unpruned partitions are never listed, the manifest-level skipping
  * contract. Sizes, input files and row counts cover exactly `entries`;
  * table-wide planner stats are offered only when `entries` is the whole
  * table.
  */
final class ManifestFileIndex(spark: SparkSession, tablePath: String,
                              manifest: Map[String, String],
                              entries: Map[String, String]) extends FileIndex {

  /** Committed ANALYZE stats with null counts and min/max — the inputs
    * [[graft.plans.StatsJoinReorder]]'s cost-based rewrite reads. None
    * gates it off for never-ANALYZEd tables and for reads of a subset of
    * the table's partitions, which the table-wide stats do not describe.
    */
  private[graft] lazy val cboColStats: Option[(Long, Map[String, Upsert.CboColStats])] =
    if (entries == Upsert.dataEntries(manifest)) Upsert.cboColStatsOf(manifest)
    else None

  private def isDataFile(name: String): Boolean =
    !name.startsWith(".") && !name.startsWith("_")

  // the manifest snapshot is immutable for this index's lifetime, so the
  // full listing (planning statistics + inputFiles) happens ONCE — the
  // per-query path is listFiles, which lists only surviving partitions
  private lazy val allFiles: Array[org.apache.hadoop.fs.FileStatus] = {
    val fs = new Path(tablePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    entries.values.toSeq.flatMap { rel =>
      fs.listStatus(new Path(s"$tablePath/$rel")).filter(st =>
        st.isFile && isDataFile(st.getPath.getName))
    }.toArray
  }

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))

  override def partitionSchema: StructType = new StructType()

  // committed bloom sidecars, loaded lazily per (dir, col) and memoized
  // for the index's (immutable-snapshot) lifetime — repeated listFiles
  // calls never re-read a sidecar
  private val bloomCols = Upsert.bloomStatsCols(manifest).toSet
  private val bloomCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), Option[org.apache.spark.util.sketch.BloomFilter]]
  private def bloomFor(rel: String, colName: String) =
    bloomCache.getOrElseUpdate((rel, colName),
      Upsert.bloomOf(tablePath, rel, colName))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val conjuncts = dataFilters.flatMap(ManifestTable.splitConjuncts)
    val bounds = conjuncts.flatMap(ManifestTable.boundOf)
    val points = conjuncts.flatMap(ManifestTable.pointsOf)
      .filter { case (c, _) => bloomCols.contains(c) }
    // generated-partition declaration: bounds on the SOURCE column become
    // exact intervals on the partition value (monotone transform image)
    val genPart = Upsert.genPartOf(manifest)
    val genBounds = genPart.map { case (_, srcPhys, t) =>
      (t, bounds.filter(_._1 == srcPhys))
    }.filter(_._2.nonEmpty)
    val kept = entries.filter { case (p, rel) =>
      bounds.forall { case (colName, lo, hi) =>
        Upsert.rangeOf(manifest, p, colName)
          .forall { case (mn, mx) => mx >= lo && mn <= hi }
      } && genBounds.forall { case (t, bs) =>
        bs.forall { case (_, lo, hi) =>
          Upsert.genPartKeeps(p, t, lo, hi)
        }
      } && points.forall { case (colName, vs) =>
        bloomFor(rel, colName).forall(bf =>
          vs.exists(Upsert.bloomMightContain(bf, _)))
      }
    }
    val fs = new Path(tablePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    kept.toSeq.sortBy(_._1).map { case (p, rel) =>
      val dir = new Path(s"$tablePath/$rel")
      // per-FILE stats: one checkpointed sidecar read per partition (not
      // a manifest entry per file) — inside a surviving partition, a file
      // whose committed [min,max] cannot intersect the pushed bounds is
      // never listed into the scan (absent/stale entry = keep)
      val fstats =
        if (bounds.isEmpty) Map.empty[String, String]
        else Upsert.fileStatsOf(tablePath, manifest, p)
      val files = fs.listStatus(dir).filter { st =>
        st.isFile && isDataFile(st.getPath.getName) &&
          bounds.forall { case (colName, lo, hi) =>
            fstats.get(st.getPath.getName)
              .flatMap(Upsert.parseRangeJson(_, colName))
              .forall { case (mn, mx) => mx >= lo && mn <= hi }
          }
      }
      PartitionDirectory(InternalRow.empty, files)
    }
  }

  /** Exact row count of `entries` from committed `__rows` metadata, when
    * provable (every entry stamped, none with pending MoR sidecars) — what
    * lets [[graft.plans.MetadataOnlyCount]] answer COUNT(*) without a scan.
    */
  private[graft] def metadataRowCount: Option[Long] =
    Upsert.metadataRowCount(manifest, entries.keySet)

  override def inputFiles: Array[String] = allFiles.map(_.getPath.toString)

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = allFiles.map(_.getLen).sum
}
