package graft.icelite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Planning-time FILE skipping from per-commit zone maps — the IceLite
  * analog of Iceberg's manifest column stats (reference semantics:
  * Debezium consumers routinely land in Iceberg, whose scan planning
  * prunes data files by min/max before any footer is opened).
  *
  * Why it matters at 100 TB: bucket pruning cuts the scan by KEY; zone
  * maps cut it by VALUE. A delta chain holds one file per (bucket,
  * commit) — a predicate like `n_tok > 4096` or `__vc >= <lsn>` usually
  * excludes most commits' files outright. Parquet row-group statistics
  * would also skip them, but only AFTER a task was scheduled and the
  * footer fetched: at 10^5 buckets x chains that is 10^6 task
  * schedulings and object-store reads for zero rows. The zone map
  * answers the same question on the driver from one cached JSON per
  * commit.
  *
  * Layout: each commit directory (`data/base-snapshot`, `data/delta-*`,
  * `data/base-*`, `data/compact-*`, `data/rebucket-*`,
  * `data/v2append-*`) carries a `_zonemaps.json` sidecar mapping every
  * data file it contains to per-column {min, max, nulls, rows} over the
  * file's row groups. `IceLite.writeBucketed`, the one writer of all of
  * them, writes it before the commit that publishes the directory,
  * from the footers its write tasks kept of the files they closed: no
  * footer is read back and no directory is listed. Absence is always
  * legal: files without stats (pre-feature commits, exotic types) are
  * simply never skipped.
  */
object ZoneMaps {

  val SidecarName = "_zonemaps.json"

  /** Per-column, per-file statistics. min/max are string-encoded in the
    * column's natural order domain and cover NON-NULL values only; None
    * when the file has no non-null value for the column.
    */
  final case class ColStats(min: Option[String], max: Option[String],
      nulls: Long, rows: Long)

  // ---- collection (write side) ----

  /** One parquet file's footer as per-column stats. Returns only
    * columns whose statistics are present and trustworthy in EVERY row
    * group (a single opaque block poisons the column — conservative).
    */
  private[icelite] def fileStats(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): Map[String, ColStats] = {
    val blocks = footer.getBlocks.asScala.toSeq
    // accumulate min/max as the statistics' OWN Comparable (Integer,
    // Long, Binary, ...) — merging via string re-encoding would compare
    // numeric-looking STRING columns numerically and corrupt the bound
    final case class Acc(min: Option[Any], max: Option[Any], nulls: Long, rows: Long)
    def cmpAny(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)
    val out = scala.collection.mutable.Map[String, Acc]()
    val poisoned = scala.collection.mutable.Set[String]()
    blocks.foreach { b =>
      b.getColumns.asScala.foreach { cc =>
        val path = cc.getPath.toArray
        if (path.length == 1) { // top-level atomic columns only
          val name = path(0)
          val st = cc.getStatistics
          if (st == null || st.isEmpty || !st.isNumNullsSet) poisoned += name
          else {
            val (mn, mx): (Option[Any], Option[Any]) =
              if (!st.hasNonNullValue) (None, None)
              else (Some(st.genericGetMin), Some(st.genericGetMax))
            val merged = out.get(name) match {
              case None => Acc(mn, mx, st.getNumNulls, b.getRowCount)
              case Some(p) => Acc(
                (p.min, mn) match {
                  case (Some(x), Some(y)) => Some(if (cmpAny(x, y) <= 0) x else y)
                  case (x, y) => x.orElse(y)
                },
                (p.max, mx) match {
                  case (Some(x), Some(y)) => Some(if (cmpAny(x, y) >= 0) x else y)
                  case (x, y) => x.orElse(y)
                },
                p.nulls + st.getNumNulls, p.rows + b.getRowCount)
            }
            out(name) = merged
          }
        }
      }
    }
    (out -- poisoned).map { case (c, a) =>
      c -> ColStats(a.min.map(encode), a.max.map(encode), a.nulls, a.rows)
    }.toMap
  }

  /** Encode a parquet statistics value into the string order-domain. */
  private def encode(v: Any): String = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => String.valueOf(other)
  }

  /** Write the `_zonemaps.json` sidecar of `files`, the data files a
    * write put under `root/commitRel`. Call BEFORE the snapshot commit
    * that publishes the directory. Never throws — a stats failure must
    * not block an ingest commit (the files are then simply never
    * skipped).
    */
  def writeSidecar(root: String, commitRel: String, files: Seq[WrittenFile]): Unit =
    try {
      if (files.isEmpty) return
      val mapper = new ObjectMapper()
      val rootNode: ObjectNode = mapper.createObjectNode()
      val filesNode = rootNode.putObject("files")
      files.foreach { f =>
        val fn = filesNode.putObject(f.rel)
        f.stats.toSeq.sortBy(_._1).foreach { case (c, s) =>
          val cn = fn.putObject(c)
          s.min.foreach(cn.put("min", _))
          s.max.foreach(cn.put("max", _))
          cn.put("nulls", s.nulls)
          cn.put("rows", s.rows)
        }
      }
      val dir = Paths.get(root, commitRel)
      val tmp = dir.resolve(s".tmp-zm-${java.util.UUID.randomUUID()}")
      Files.write(tmp, mapper.writeValueAsString(rootNode)
        .getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, dir.resolve(SidecarName),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } catch { case NonFatal(_) => () }

  // ---- lookup (read side) ----

  /** Sidecar cache keyed by absolute commit dir. Commit directories'
    * DATA is immutable once published, so positive entries never
    * invalidate. Misses are NOT cached: commit dirs per scan are
    * bounded by the compaction chain, so the re-probe is one cheap
    * Files.exists.
    */
  private val cache = new ConcurrentHashMap[String, Map[String, Map[String, ColStats]]]()

  /** Drop all cached sidecars. Call after DESTROYING a table in place
    * (snapshot-mode=always re-snapshot): the fixed-name commit dir
    * (`data/base-snapshot`) is recreated at the same path, and a stale
    * cached sidecar would otherwise pin that path until JVM exit —
    * never WRONG (part-file names are uuid-unique, so lookups miss and
    * nothing skips), but it disables skipping for the new table.
    */
  def clearCache(): Unit = cache.clear()

  /** Stats for one data file (rel path under root), or None when the
    * commit has no sidecar / the file isn't in it.
    */
  def statsFor(root: String, fileRel: String): Option[Map[String, ColStats]] = {
    // commit dir = first two segments: data/<commit>
    val segs = fileRel.split('/')
    if (segs.length < 3) return None
    val commitDirAbs = Paths.get(root, segs(0), segs(1)).toString
    var all = cache.get(commitDirAbs)
    if (all == null) {
      all = loadSidecar(commitDirAbs)
      if (all.nonEmpty) {
        // crude bound for very-long-running streams: commit dirs are
        // compacted away over time, so a full reset (not LRU) suffices
        if (cache.size() > 4096) cache.clear()
        cache.put(commitDirAbs, all)
      }
    }
    all.get(s"${segs(0)}/${segs(1)}/" + segs.drop(2).mkString("/"))
  }

  private def loadSidecar(commitDirAbs: String): Map[String, Map[String, ColStats]] =
    try {
      val p = Paths.get(commitDirAbs, SidecarName)
      if (!Files.exists(p)) return Map.empty
      val mapper = new ObjectMapper()
      val n = mapper.readTree(Files.readAllBytes(p))
      val fn = n.get("files")
      if (fn == null) return Map.empty
      fn.properties().asScala.map { fe =>
        fe.getKey -> fe.getValue.properties().asScala.map { ce =>
          val c = ce.getValue
          ce.getKey -> ColStats(
            Option(c.get("min")).map(_.asText()),
            Option(c.get("max")).map(_.asText()),
            if (c.has("nulls")) c.get("nulls").asLong() else 0L,
            if (c.has("rows")) c.get("rows").asLong() else 0L)
        }.toMap
      }.toMap
    } catch { case NonFatal(_) => Map.empty }

  // ---- skip decision ----

  /** Can the file possibly hold a row satisfying ALL pushed filters?
    * `filters` are implicitly conjunctive (Spark hands top-level
    * conjuncts separately). Unknown predicates, unknown columns, type
    * mismatches and absent stats all answer TRUE — skipping must be a
    * proof, never a guess.
    */
  def mayMatch(filters: Array[Filter], stats: Map[String, ColStats],
      schema: StructType): Boolean =
    filters.forall(f => mayMatchOne(f, stats, schema))

  private def mayMatchOne(f: Filter, stats: Map[String, ColStats],
      schema: StructType): Boolean = f match {
    case And(l, r) =>
      mayMatchOne(l, stats, schema) && mayMatchOne(r, stats, schema)
    case Or(l, r) =>
      mayMatchOne(l, stats, schema) || mayMatchOne(r, stats, schema)
    case EqualTo(c, v) => inRange(c, v, stats, schema)
    case EqualNullSafe(c, v) if v != null => inRange(c, v, stats, schema)
    case In(c, vs) =>
      vs == null || vs.isEmpty || vs.exists(v => inRange(c, v, stats, schema))
    // inequalities: a file with NO non-null value for the column can
    // never satisfy them (SQL comparison with null is never true)
    case GreaterThan(c, v) =>
      !provablyAllNull(c, stats) && cmpMax(c, v, stats, schema).forall(_ > 0)
    case GreaterThanOrEqual(c, v) =>
      !provablyAllNull(c, stats) && cmpMax(c, v, stats, schema).forall(_ >= 0)
    case LessThan(c, v) =>
      !provablyAllNull(c, stats) && cmpMin(c, v, stats, schema).forall(_ < 0)
    case LessThanOrEqual(c, v) =>
      !provablyAllNull(c, stats) && cmpMin(c, v, stats, schema).forall(_ <= 0)
    case IsNull(c) => stats.get(c).forall(_.nulls > 0)
    case IsNotNull(c) => stats.get(c).forall(s => s.min.nonEmpty || s.nulls < s.rows)
    case _ => true
  }

  /** Stats exist and record zero non-null values for the column. */
  private def provablyAllNull(c: String, stats: Map[String, ColStats]): Boolean =
    stats.get(c).exists(s => s.min.isEmpty && s.max.isEmpty && s.nulls == s.rows)

  /** Some(sign of max(col) compared to v); None = can't prove. */
  private def cmpMax(c: String, v: Any, stats: Map[String, ColStats],
      schema: StructType): Option[Int] =
    for {
      s <- stats.get(c)
      mx <- s.max
      r <- compare(mx, v, schema, c)
    } yield r

  private def cmpMin(c: String, v: Any, stats: Map[String, ColStats],
      schema: StructType): Option[Int] =
    for {
      s <- stats.get(c)
      mn <- s.min
      r <- compare(mn, v, schema, c)
    } yield r

  /** v ∈ [min, max]? Absent stats → true; a file with NO non-null value
    * for the column can never satisfy an equality → false.
    */
  private def inRange(c: String, v: Any, stats: Map[String, ColStats],
      schema: StructType): Boolean = stats.get(c) match {
    case None => true
    case Some(s) =>
      if (v == null) return true // null equality never pushes here meaningfully
      (s.min, s.max) match {
        case (Some(mn), Some(mx)) =>
          (compare(mn, v, schema, c), compare(mx, v, schema, c)) match {
            case (Some(lo), Some(hi)) => lo <= 0 && hi >= 0
            case _ => true
          }
        // no non-null value anywhere in the file: a non-null equality
        // cannot match any row (covers empty and all-null files)
        case _ => false
      }
  }

  /** Compare an encoded stat value against a filter literal in the
    * column's order domain. None = incomparable (conservative).
    * NaN note: any comparison involving NaN answers None, so NaN
    * predicates never skip a file.
    */
  private def compare(stat: String, v: Any, schema: StructType,
      col: String): Option[Int] = {
    val dt = schema.fields.find(_.name == col).map(_.dataType).getOrElse(return None)
    try dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        val lv = v match {
          case n: java.lang.Number => n.longValue()
          case _ => return None
        }
        Some(java.lang.Long.compare(stat.toLong, lv))
      case FloatType | DoubleType =>
        val dv = v match {
          case n: java.lang.Number => n.doubleValue()
          case _ => return None
        }
        val sv = stat.toDouble
        if (sv.isNaN || dv.isNaN) None else Some(java.lang.Double.compare(sv, dv))
      case StringType =>
        // parquet binary stats order by UTF-8 BYTES; String.compareTo
        // orders by UTF-16 units — identical for ASCII only, so abstain
        // the moment either side leaves ASCII
        def ascii(s: String) = s.forall(_ < 128)
        v match {
          case s: String if ascii(stat) && ascii(s) => Some(stat.compareTo(s))
          case u: org.apache.spark.unsafe.types.UTF8String =>
            val s = u.toString
            if (ascii(stat) && ascii(s)) Some(stat.compareTo(s)) else None
          case _ => None
        }
      case BooleanType =>
        v match {
          case b: java.lang.Boolean =>
            Some(java.lang.Boolean.compare(stat.toBoolean, b))
          case _ => None
        }
      case _ => None
    } catch { case NonFatal(_) => None }
  }
}
