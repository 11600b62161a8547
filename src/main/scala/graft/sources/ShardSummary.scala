package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.input_file_name
import org.apache.spark.util.sketch.BloomFilter

import graft.sources.BloomPruner.{ColumnBlooms, KeyKind, LongKey, ShardBloom, StringKey}

/** The per-shard metadata graft keeps next to a sharded table: one
  * record per data file holding its root-relative path, its length and
  * mtime, its zone map ([[ShardZoneMap]]: numeric and string bounds) and
  * one Bloom sketch per lookup key. This is the reference's catalogue
  * partition record, which keeps a partition's byte count and zone map
  * together (`fpdb-catalogue/include/fpdb/catalogue/Partition.h:23-41`).
  *
  * The (length, mtime) pair is what makes the summary checkable: the
  * conf route routes a directory per shard only while the relation's own
  * file statuses equal the recorded ones, the same (path, length, mtime)
  * fingerprint [[graft.cache.HybridScan.TableListing]] uses for
  * segments. A shard rewritten in place under the same name therefore
  * shows as drift instead of being pruned by its old bounds. */
final case class ShardSummary(numCols: Seq[String], strCols: Seq[String],
    bloomKeys: Seq[(String, KeyKind)], shards: Seq[ShardSummary.Shard]) {
  def zoneCols: Seq[String] = numCols ++ strCols
  lazy val zones: Seq[ShardZoneMap] = shards.map(_.zone)
  /** One [[ColumnBlooms]] per bloom key, in header order. */
  lazy val blooms: Seq[ColumnBlooms] = bloomKeys.zipWithIndex.map { case ((c, k), i) =>
    ColumnBlooms(c, k, shards.map(sh => ShardBloom(sh.zone.path, c, sh.blooms(i))))
  }
}

object ShardSummary {

  /** One data file: its zone map (whose `path` is the file's absolute
    * path), its length and mtime when the summary was built, and one
    * sketch per bloom key of the summary. */
  final case class Shard(zone: ShardZoneMap, length: Long, mtime: Long,
      blooms: Seq[BloomFilter])

  /** The sidecar's file name. The underscore keeps it out of Spark's
    * file index and graft's listings.
    *
    * Format: a header line
    * `v=1<TAB>num=<cols><TAB>str=<cols><TAB>bloom=<col>:<kind>,...`,
    * then one line per shard:
    * `relPath<TAB>length<TAB>mtime<TAB>` followed by `lo,hi` per numeric
    * column, `base64(lo),base64(hi)` per string column (`-` for an
    * all-NULL shard) and `base64(bloom)` per key, each in header order.
    * Paths are relative to the table root, so nested layouts keep
    * distinct entries and the directory can move as a unit. */
  val FileName = "_graft_shards"
  private val Version = "v=1"

  /** Sidecars of earlier releases. They carry no length or mtime, so
    * they are never parsed; a directory holding only one of them counts
    * as drift until [[rebuild]] writes a summary. */
  private val LegacyNames = Seq("_graft_zonemap", "_graft_bloom")

  private def fsOf(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** `file`'s path relative to `root`, or None when `file` is not under
    * `root`. Both sides compare by URI path, so `file:/x` and `file:///x`
    * spellings agree. */
  private[graft] def relPath(root: Path, file: String): Option[String] = {
    val r = root.toUri.getPath.stripSuffix("/")
    val f = new Path(file).toUri.getPath
    if (f.startsWith(r + "/")) Some(f.substring(r.length + 1)) else None
  }

  /** Per-file zone maps and sketches of `df` from ONE aggregation grouped
    * by `input_file_name()`: the min/max aggregates of
    * [[ZoneMapPruner.boundAggs]] and one `BloomFilterAggregate` per key
    * ([[BloomPruner.bloomAgg]]). Zone paths are the files as
    * `input_file_name()` renders them. */
  private[sources] def aggregate(df: DataFrame, zoneCols: Seq[String],
      bloomKeys: Seq[(String, KeyKind)], expectedItems: Long = 100000L)
      : Seq[(ShardZoneMap, Seq[BloomFilter])] = {
    require(zoneCols.nonEmpty || bloomKeys.nonEmpty, "aggregate: no columns")
    val aggs = ZoneMapPruner.boundAggs(df, zoneCols) ++
      bloomKeys.zipWithIndex.map { case ((c, k), i) =>
        BloomPruner.bloomAgg(df, c, k, expectedItems).as(s"__bloom_$i") }
    df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per shard: metadata construction, not a data path
      .toSeq.map { r =>
        (ZoneMapPruner.zoneOf(df, zoneCols, r.getAs[String]("__file"), r),
          bloomKeys.indices.map(i =>
            BloomPruner.bloomOf(r.getAs[Array[Byte]](s"__bloom_$i"))))
      }
  }

  /** Summarize the data files under `dir` (recursively, skipping names
    * that start with `_` or `.`) in one pass. `template` gives the format,
    * schema and options to parse them with; its paths are ignored. The
    * file statuses are listed BEFORE the pass, so a shard rewritten while
    * the pass runs keeps its old (length, mtime) and shows as drift. A
    * file with no rows gets the empty interval and empty sketches: no row
    * of it can match. */
  def build(s: SparkSession, dir: String, template: TableSpec,
      zoneCols: Seq[String], bloomKeys: Seq[(String, KeyKind)] = Nil,
      expectedItems: Long = 100000L): ShardSummary = {
    val root = new Path(dir)
    val fs = fsOf(s, root)
    val it = fs.listFiles(root, true)
    val statuses = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(st => relPath(root, st.getPath.toString)
        .exists(_.split('/').forall(n => !n.startsWith("_") && !n.startsWith("."))))
      .toSeq.sortBy(_.getPath.toString)
    require(statuses.nonEmpty, s"ShardSummary.build: no data files under $dir")
    val df = Catalog.read(s, template.copy(paths = statuses.map(_.getPath.toString)))
    val listed = statuses.map(_.getPath.toUri.getPath).toSet
    val byFile = aggregate(df, zoneCols, bloomKeys, expectedItems).map { case (z, bs) =>
      // input_file_name() renders URL-encoded; statuses decode
      val f = new java.net.URI(z.path).getPath
      require(listed(f), s"ShardSummary.build: $f is not a listed file of $dir")
      f -> (z, bs)
    }.toMap
    val (strCols, numCols) = zoneCols.partition(c =>
      df.schema(c).dataType == org.apache.spark.sql.types.StringType)
    ShardSummary(numCols, strCols, bloomKeys, statuses.map { st =>
      val (z, bs) = byFile.getOrElse(st.getPath.toUri.getPath, (ShardZoneMap("",
        numCols.map(_ -> ((Double.PositiveInfinity, Double.NegativeInfinity))).toMap),
        bloomKeys.map(_ => BloomFilter.create(1))))
      Shard(z.copy(path = st.getPath.toString), st.getLen, st.getModificationTime, bs)
    })
  }

  private def b64(bytes: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(bytes)
  private def b64(s: String): String = b64(s.getBytes("UTF-8"))
  private def unb64(s: String): Array[Byte] = java.util.Base64.getDecoder.decode(s)

  /** Persist `summary` as `dir/_graft_shards` (tmp + rename: a reader
    * never sees a torn file). Every shard must live under `dir`, and
    * column names must be free of the format's delimiters. */
  def write(s: SparkSession, dir: String, summary: ShardSummary): Unit = {
    import summary._
    (zoneCols ++ bloomKeys.map(_._1)).foreach(c => require(
      !c.exists(",:=\t\n".contains(_)),
      s"ShardSummary.write: column name '$c' contains a delimiter"))
    val root = new Path(dir)
    val fs = fsOf(s, root)
    val text = new StringBuilder(Seq(Version, numCols.mkString("num=", ",", ""),
      strCols.mkString("str=", ",", ""),
      bloomKeys.map { case (c, k) => s"$c:${k.name}" }.mkString("bloom=", ",", ""))
      .mkString("\t")).append('\n')
    shards.map { sh =>
      val rel = relPath(root, sh.zone.path).filterNot(_.exists("\t\n".contains(_)))
        .getOrElse(sys.error(s"ShardSummary.write: ${sh.zone.path} is not a file under $dir"))
      rel -> sh
    }.sortBy(_._1).foreach { case (rel, sh) =>
      val fields = Seq(rel, sh.length.toString, sh.mtime.toString) ++
        numCols.map { c => val (lo, hi) = sh.zone.ranges(c); s"$lo,$hi" } ++
        strCols.map(c => sh.zone.strRanges.get(c)
          .fold("-") { case (lo, hi) => s"${b64(lo)},${b64(hi)}" }) ++
        sh.blooms.map { b =>
          val buf = new java.io.ByteArrayOutputStream()
          b.writeTo(buf)
          b64(buf.toByteArray)
        }
      text.append(fields.mkString("\t")).append('\n')
    }
    val tmp = new Path(root, s".$FileName.tmp.${System.nanoTime}")
    val target = new Path(root, FileName)
    val out = fs.create(tmp, true)
    try out.write(text.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(target, false)
    if (!fs.rename(tmp, target)) sys.error(s"could not publish shard summary $target")
  }

  // Parses memoized on (qualified sidecar path, length, mtime): any
  // rewrite of the sidecar misses, so no writer hook is needed, and the
  // conf route's per-leaf classification costs one stat per query, not a
  // re-read and base64 decode. Bounded LRU of immutable parses.
  private val CacheMax = 64
  private val cache = new java.util.LinkedHashMap[(String, Long, Long),
      Option[ShardSummary]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(String, Long, Long),
        Option[ShardSummary]]): Boolean = size() > CacheMax
  }

  /** Load `dir/_graft_shards` if present, shard paths resolved to
    * absolute paths under the qualified `dir`. A malformed summary
    * returns None with a warning: pruning is an optimization, never a
    * correctness input. */
  def read(s: SparkSession, dir: String): Option[ShardSummary] =
    try {
      val root = new Path(dir)
      val fs = fsOf(s, root)
      val target = new Path(root, FileName)
      val st = try fs.getFileStatus(target)
        catch { case _: java.io.FileNotFoundException => return None }
      val key = (fs.makeQualified(target).toString, st.getLen, st.getModificationTime)
      cache.synchronized(Option(cache.get(key))).getOrElse {
        val in = fs.open(target)
        val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val parsed = try Some(parse(fs.makeQualified(root), text)) catch {
          case e: Exception =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"ignoring unreadable shard summary under $dir: $e")
            None
        }
        cache.synchronized(cache.put(key, parsed))
        parsed
      }
    } catch { case e: java.io.IOException =>
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"cannot read the shard summary under $dir: $e")
      None
    }

  private def parse(root: Path, text: String): ShardSummary = {
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val header = lines.headOption.map(_.split('\t').toSeq).getOrElse(Nil)
    require(header.headOption.contains(Version), s"unknown header ${header.headOption}")
    def field(k: String): Seq[String] = header.find(_.startsWith(k + "="))
      .getOrElse(sys.error(s"header lacks $k=")).drop(k.length + 1)
      .split(',').toSeq.filter(_.nonEmpty)
    val (numCols, strCols) = (field("num"), field("str"))
    val bloomKeys = field("bloom").map { kv =>
      val Array(c, k) = kv.split(':')
      c -> Seq(LongKey, StringKey).find(_.name == k).getOrElse(sys.error(s"key kind $k"))
    }
    // bounds parse OUTWARD: graft writes shortest-round-trip doubles
    // (exact either way), but a summary written by another tool may carry
    // decimal strings strictly between adjacent doubles, and nearest
    // rounding could pull a min up or a max down ([[ZoneMapPruner.outward]]).
    // Non-decimal renderings (Infinity) keep the plain parse; a NaN widens
    // to the matching infinity, as [[ZoneMapPruner.zoneOf]] does.
    def bound(v: String, isMin: Boolean): Double = {
      val d = try ZoneMapPruner.outward(new java.math.BigDecimal(v.trim), isMin)
              catch { case _: NumberFormatException => v.trim.toDouble }
      if (!d.isNaN) d else if (isMin) Double.NegativeInfinity else Double.PositiveInfinity
    }
    def pair(v: String): (String, String) = {
      // limit -1: an empty-string bound encodes as "" and must survive
      val Array(lo, hi) = v.split(",", -1)
      (lo, hi)
    }
    val width = 3 + numCols.size + strCols.size + bloomKeys.size
    ShardSummary(numCols, strCols, bloomKeys, lines.tail.map { line =>
      val f = line.split("\t", -1).toSeq
      require(f.size == width, s"a shard line has ${f.size} fields, not $width")
      val (num, rest) = f.drop(3).splitAt(numCols.size)
      val (str, blooms) = rest.splitAt(strCols.size)
      Shard(ShardZoneMap(new Path(root, f.head).toString,
          numCols.zip(num).map { case (c, v) =>
            val (lo, hi) = pair(v)
            c -> ((bound(lo, isMin = true), bound(hi, isMin = false)))
          }.toMap,
          strCols.zip(str).filter(_._2 != "-").map { case (c, v) =>
            val (lo, hi) = pair(v)
            c -> ((new String(unb64(lo), "UTF-8"), new String(unb64(hi), "UTF-8")))
          }.toMap),
        f(1).toLong, f(2).toLong,
        blooms.map(b => BloomFilter.readFrom(new java.io.ByteArrayInputStream(unb64(b)))))
    })
  }

  /** Rebuild `dir`'s summary from the files on disk ([[build]], then
    * [[write]]) and fire the writer hook [[Tables.wrote]], also when the
    * rebuild fails, so cached listings and Spark's file-status and cache
    * state see the current files. This is the repair the drift warning
    * names. */
  def rebuild(s: SparkSession, dir: String, template: TableSpec,
      zoneCols: Seq[String], bloomKeys: Seq[(String, KeyKind)] = Nil): ShardSummary =
    try {
      val summary = build(s, dir, template, zoneCols, bloomKeys)
      write(s, dir, summary)
      summary
    } finally Tables.wrote(s, dir)

  private val driftN = new java.util.concurrent.atomic.AtomicLong(0)

  /** Times the conf route found a summary that disagrees with its
    * directory, or a directory with only a legacy sidecar. The leaf is
    * left unrouted: correct, but it loses per-shard routing until a
    * [[rebuild]]. */
  def driftCount: Long = driftN.get

  /** The summary of `root` when it matches `files`, the (path, length,
    * mtime) statuses the relation listed; otherwise None, with drift
    * counted and logged when a summary or a legacy sidecar is present. */
  private[graft] def matching(s: SparkSession, root: Path,
      files: Seq[(String, Long, Long)]): Option[ShardSummary] = {
    val summary = read(s, root.toString)
    lazy val legacy = LegacyNames.filter(n => fsOf(s, root).exists(new Path(root, n)))
    // sorted sequences, not sets: a path listed or recorded twice must
    // not pass as one shard
    val recorded = summary.toSeq.flatMap(_.shards.map(sh =>
      (relPath(root, sh.zone.path).getOrElse(sh.zone.path), sh.length, sh.mtime))).sorted
    val listed = files.map { case (f, len, mt) =>
      (relPath(root, f).getOrElse(f), len, mt) }.sorted
    if (recorded.nonEmpty && recorded == listed) summary
    else {
      if (summary.isDefined || legacy.nonEmpty) {
        driftN.incrementAndGet()
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"shard summary under $root does not match the directory " +
          (if (summary.isEmpty) s"(only legacy ${legacy.mkString(",")})"
           else s"(summary-only: ${recorded.diff(listed).take(3).mkString(",")}; " +
             s"dir-only: ${listed.diff(recorded).take(3).mkString(",")})") +
          ": leaf left unrouted; rebuild with ShardSummary.rebuild")
      }
      None
    }
  }
}
