package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Multi-dimensional data layout: Z-order (Morton) clustering, the
  * standard answer to "queries filter on BOTH x and y but files can only
  * be sorted one way". Interleaving the bits of two sort keys gives a
  * single clustering key whose ranges are 2-D tiles: range-partition +
  * sort by it and every parquet file covers a NARROW slice of BOTH
  * columns, so either predicate prunes files via min/max footer stats.
  * A linear sort by x gives perfect x-pruning and ZERO y-pruning — at
  * 100 TB that's the difference between reading one tile and scanning
  * the whole table for every y-filtered query. (Public technique —
  * Morton 1966; used by every lakehouse OPTIMIZE/CLUSTER BY
  * implementation.)
  *
  * Everything is pure column arithmetic (shift/mask/or), codegen'd,
  * shuffle-free until the one range-repartition that IS the layout job.
  */
object Layout {

  /** Bit-interleave two non-negative ints confined to `bits` bits each:
    * x's bit i lands at even position 2i, y's at odd 2i+1. Inputs are
    * masked to `bits` first, so callers normalize (bucket/scale) into
    * range; 16+16 → a 32-bit Morton code in a long. */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    val mask = lit((1L << bits) - 1)
    val xm = x.cast("long").bitwiseAND(mask)
    val ym = y.cast("long").bitwiseAND(mask)
    (0 until bits).map { i =>
      val xbit = shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i)
      val ybit = shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1)
      xbit.bitwiseOR(ybit)
    }.reduce(_.bitwiseOR(_))
  }

  /** The layout operator: cluster `df` into `n` write tasks by the
    * Z-value of (x, y). Both keys are first RANGE-NORMALIZED into the
    * full 2^bits domain — raw interleave of unequal-width ranges puts
    * all the high varying bits on the wider dimension and degenerates
    * toward a linear sort on it (no locality for the narrow one). The
    * bounds come from one cheap min/max aggregation broadcast back as a
    * 1-row join (at production scale, read them from table stats
    * instead). repartitionByRange's sampled boundaries then make each
    * output file one contiguous Z-range ≈ one 2-D tile;
    * sortWithinPartitions tightens per-row-group stats inside each file.
    * LayoutSpec measures the effect directly on written parquet. */
  def layoutZOrder(df: DataFrame, x: Column, y: Column, n: Int,
      bits: Int = 16): DataFrame = {
    val top = (1L << bits) - 1
    val bounds = df.agg(min(x).cast("long").as("_xmin"), max(x).cast("long").as("_xmax"),
      min(y).cast("long").as("_ymin"), max(y).cast("long").as("_ymax"))
    // normalize through DOUBLE: the integer form ((c-lo)*top) overflows
    // Long once the key range exceeds ~2^47 (epoch-micros over a few
    // years would silently wrap and shred the layout). Double's 53-bit
    // mantissa keeps the division exact ENOUGH for a layout key — the
    // worst rounding error moves a row one tile at a 2^53-wide domain,
    // and the layout contract is locality, not bit-exactness (q97's
    // oracle-pinned zValue is separate and stays all-integer).
    def norm(c: Column, lo: Column, hi: Column): Column =
      ((c.cast("long") - lo).cast("double") * top /
        greatest(hi - lo, lit(1L)).cast("double")).cast("long")
    val withZ = df.crossJoin(broadcast(bounds))
      .withColumn("_z", zValue(
        norm(x, col("_xmin"), col("_xmax")),
        norm(y, col("_ymin"), col("_ymax")), bits))
      .drop("_xmin", "_xmax", "_ymin", "_ymax")
    withZ.repartitionByRange(n, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
  }

  /** q97: the Morton codes themselves over orders — x = customer key,
    * y = order date as days since 1990-01-01 (same epoch expression as
    * q39's oracle), both masked to 16 bits. Pure integer arithmetic →
    * the DuckDB oracle replays the identical shifts and hash-matches
    * bit-for-bit, pinning the interleave the layout operator sorts by. */
  def q97ZOrder(spark: SparkSession, dir: String): DataFrame = {
    val dayNum = datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
    orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        dayNum.cast("long").as("day_num"),
        zValue(col("o_custkey"), dayNum, 16).as("zval"))
      .orderBy(col("o_orderkey"))
  }

  val q97Sql: String = {
    val x = s"(o_custkey & 65535)"
    val y = s"(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) & 65535)"
    val terms = (0 until 16).flatMap { i =>
      Seq(s"((($x >> $i) & 1) << ${2 * i})", s"((($y >> $i) & 1) << ${2 * i + 1})")
    }
    "SELECT o_orderkey, o_custkey, " +
      "date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day_num, " +
      s"(${terms.mkString(" | ")}) AS zval " +
      "FROM orders ORDER BY o_orderkey"
  }

  /** Hilbert index of a non-negative (x, y) point masked to `bits` bits
    * per dimension — the space-filling curve with STRICTLY better
    * locality than Morton: consecutive Hilbert indices are always grid
    * neighbors (unit steps — LayoutSpec proves it exhaustively), while
    * the Z curve takes a long diagonal jump at every power-of-two
    * boundary. At 100 TB that shows up as tighter per-file min/max
    * envelopes for the SAME file count, i.e. strictly more pruning.
    *
    * The standard xy2d walk (public algorithm — Hilbert 1891; the
    * bit-level formulation every lakehouse/geo index uses) folds state
    * (x, y, d) through the bit levels with a CONDITIONAL ROTATION — so
    * unlike [[zValue]] it cannot be unrolled into flat column
    * arithmetic (each level's x/y feed the next through CASE branches:
    * inlined, the expression tree grows ~4× per level and 4^16 kills
    * the optimizer). It runs as a Catalyst `aggregate` higher-order
    * fold instead (the q152 recurrence idiom — linear-size plan, zero
    * UDFs); the DuckDB oracle replays the identical walk with the 16
    * levels unrolled as chained CTE stages.
    *
    * This fold is the DECLARATIVE REFERENCE implementation — it needs
    * no function registration and its plan is pure Catalyst algebra.
    * The hot path ([[hilbertValue]], used by q160/layoutHilbert) is the
    * native codegen'd twin `hilbert_xy` (r11: the interpreted HOF cost
    * ~4 s at sf0.1 vs ~0.5 native, same bits out); LayoutSpec pins the
    * two bit-identical on the exhaustive grid. */
  def hilbertValueFold(x: Column, y: Column, bits: Int = 16): Column = {
    val mask = lit((1L << bits) - 1)
    val levels = (0 until bits).reverse.map(i => 1L << i)
    aggregate(
      typedLit(levels),
      struct(x.cast("long").bitwiseAND(mask).as("x"),
        y.cast("long").bitwiseAND(mask).as("y"), lit(0L).as("d")),
      (acc, s) => {
        val (ax, ay, ad) = (acc.getField("x"), acc.getField("y"), acc.getField("d"))
        val rx = when(ax.bitwiseAND(s) =!= 0, lit(1L)).otherwise(lit(0L))
        val ry = when(ay.bitwiseAND(s) =!= 0, lit(1L)).otherwise(lit(0L))
        val nd = ad + s * s * (lit(3L) * rx).bitwiseXOR(ry)
        val nx = when(ry === 0, when(rx === 1, s - 1 - ay).otherwise(ay)).otherwise(ax)
        val ny = when(ry === 0, when(rx === 1, s - 1 - ax).otherwise(ax)).otherwise(ay)
        struct(nx.as("x"), ny.as("y"), nd.as("d"))
      },
      acc => acc.getField("d"))
  }

  /** 2-D Hilbert index, hot path: the native codegen'd `hilbert_xy`
    * walk — bit-identical to [[hilbertValueFold]] (spec-pinned), ~8×
    * faster under the interpreter-free loop. */
  def hilbertValue(x: Column, y: Column, bits: Int = 16): Column =
    graft.functions.HilbertFunctions.hilbertXY(x, y, bits)

  /** The Hilbert twin of [[layoutZOrder]] — same range normalization,
    * same one range-repartition, only the clustering key changes. */
  def layoutHilbert(df: DataFrame, x: Column, y: Column, n: Int,
      bits: Int = 16): DataFrame = {
    val top = (1L << bits) - 1
    val bounds = df.agg(min(x).cast("long").as("_xmin"), max(x).cast("long").as("_xmax"),
      min(y).cast("long").as("_ymin"), max(y).cast("long").as("_ymax"))
    def norm(c: Column, lo: Column, hi: Column): Column =
      ((c.cast("long") - lo).cast("double") * top /
        greatest(hi - lo, lit(1L)).cast("double")).cast("long")
    df.crossJoin(broadcast(bounds))
      .withColumn("_h", hilbertValue(
        norm(x, col("_xmin"), col("_xmax")),
        norm(y, col("_ymin"), col("_ymax")), bits))
      .drop("_xmin", "_xmax", "_ymin", "_ymax")
      .repartitionByRange(n, col("_h"))
      .sortWithinPartitions(col("_h"))
      .drop("_h")
  }

  /** q160: the Hilbert indices over orders — q97's twin with the better
    * curve, same keys (customer × order-day), hash-checked against the
    * unrolled-CTE walk. */
  def q160HilbertOrder(spark: SparkSession, dir: String): DataFrame = {
    val dayNum = datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
    orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        dayNum.cast("long").as("day_num"),
        hilbertValue(col("o_custkey"), dayNum, 16).as("hval"))
      .orderBy(col("o_orderkey"))
  }

  val q160Sql: String = {
    val init = "h16 AS (SELECT o_orderkey, o_custkey, " +
      "date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day_num, " +
      "CAST(o_custkey & 65535 AS BIGINT) AS hx, " +
      "CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) & 65535 AS BIGINT) AS hy, " +
      "CAST(0 AS BIGINT) AS hd FROM orders)"
    val stages = (15 to 0 by -1).map { i =>
      val s = 1L << i
      s"h$i AS (SELECT o_orderkey, o_custkey, day_num, " +
        s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - hy ELSE hy END) ELSE hx END AS hx, " +
        s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - hx ELSE hx END) ELSE hy END AS hy, " +
        s"hd + ${s * s} * xor(3 * rx, ry) AS hd FROM (" +
        s"SELECT *, CASE WHEN hx & $s != 0 THEN 1 ELSE 0 END AS rx, " +
        s"CASE WHEN hy & $s != 0 THEN 1 ELSE 0 END AS ry FROM h${i + 1}))"
    }
    s"WITH $init, ${stages.mkString(", ")} " +
      "SELECT o_orderkey, o_custkey, day_num, hd AS hval FROM h0 ORDER BY o_orderkey"
  }

  /** d-dimensional Z-value: bit-interleave `xs` (each masked to `bits`)
    * with dim 0 most significant within each level group — the 2-arg
    * [[zValue]] generalized to the real lakehouse case of 3–4
    * clustering columns. Flat shift/mask/or arithmetic, codegen'd.
    * Requires d·bits <= 63 (the code must fit one signed long). */
  def zValueD(xs: Seq[Column], bits: Int): Column = {
    val n = xs.size
    require(n >= 2 && n * bits <= 63, s"zValueD: d=$n bits=$bits out of range")
    val mask = lit((1L << bits) - 1)
    (for { k <- 0 until bits; i <- 0 until n } yield {
      val xm = xs(i).cast("long").bitwiseAND(mask)
      shiftleft(shiftright(xm, k).bitwiseAND(lit(1L)), k * n + (n - 1 - i))
    }).reduce(_.bitwiseOR(_))
  }

  /** d-dimensional Hilbert index of non-negative coords `xs`, each
    * masked to `bits` bits — [[hilbertValue]] generalized past 2-D via
    * the transpose formulation of Butz's algorithm (Butz 1971; the
    * compact bit-twiddling form is Skilling, "Programming the Hilbert
    * curve", AIP Conf. Proc. 707, 2004 — both public). Same reason to
    * exist as 2-D: strictly better range locality than Morton for the
    * same file count; real tables cluster on 3–4 columns.
    *
    * Unlike the 2-D walk (16 levels, no within-level state), the d-dim
    * inverse-undo updates X[0] after EVERY dim inside a level, which
    * makes the `aggregate`-fold idiom pay either ~4× interpreted
    * expression growth per dim step (measured 14.8 s for q162 at
    * sf0.1) or a struct allocation per (level, dim) step (11.5 s) —
    * so this one is a native codegen'd Expression instead, the
    * [[graft.functions.HilbertIndex]] tight-loop walk (the vec_dot
    * precedent; ~1 s for the identical q162, bit-identical output).
    * Requires d·bits <= 63. */
  def hilbertValueD(xs: Seq[Column], bits: Int): Column = {
    require(xs.size >= 2 && xs.size * bits <= 63,
      s"hilbertValueD: d=${xs.size} bits=$bits out of range")
    graft.functions.HilbertFunctions.hilbertIndex(xs, bits)
  }

  /** Shared d-dim layout shell: range-normalize every key into the
    * 2^bits domain (one broadcast 1-row bounds join), cluster by
    * `key(normalizedKeys)`, one range-repartition, sort within files. */
  private def layoutD(df: DataFrame, keys: Seq[Column], n: Int, bits: Int)
      (key: Seq[Column] => Column): DataFrame = {
    val top = (1L << bits) - 1
    val bexprs = keys.zipWithIndex.flatMap { case (k, i) => Seq(
      min(k).cast("long").as(s"_lo$i"), max(k).cast("long").as(s"_hi$i")) }
    val bounds = df.agg(bexprs.head, bexprs.tail: _*)
    def norm(c: Column, i: Int): Column =
      ((c.cast("long") - col(s"_lo$i")).cast("double") * top /
        greatest(col(s"_hi$i") - col(s"_lo$i"), lit(1L)).cast("double")).cast("long")
    val dropCols = keys.indices.flatMap(i => Seq(s"_lo$i", s"_hi$i"))
    df.crossJoin(broadcast(bounds))
      .withColumn("_h", key(keys.zipWithIndex.map { case (k, i) => norm(k, i) }))
      .drop(dropCols: _*)
      .repartitionByRange(n, col("_h"))
      .sortWithinPartitions(col("_h"))
      .drop("_h")
  }

  /** The d-dimensional layout operator — [[layoutHilbert]] for 3–4
    * clustering columns. */
  def layoutHilbertD(df: DataFrame, keys: Seq[Column], n: Int,
      bits: Int = 12): DataFrame = {
    layoutD(df, keys, n, bits)(hilbertValueD(_, bits))
  }

  /** The d-dimensional Morton layout — [[layoutZOrder]]'s d-dim twin,
    * same shell as [[layoutHilbertD]] with the flat interleave key
    * (LayoutSpec measures Hilbert's envelope advantage over it in 3-D
    * exactly as the 2-D tests do). */
  def layoutZOrderD(df: DataFrame, keys: Seq[Column], n: Int,
      bits: Int = 12): DataFrame =
    layoutD(df, keys, n, bits)(zValueD(_, bits))

  /** q162: the 3-D Hilbert indices over orders — (customer, order-day,
    * price-cents) masked to 8 bits each, the q160 policy lifted to the
    * multi-column clustering case. Hash-checked: the DuckDB oracle
    * replays the identical Skilling walk with the 7 inverse-undo levels
    * × 3 per-dim steps unrolled as chained CTE stages, then the Gray /
    * twist / interleave algebra. */
  def q162Hilbert3d(spark: SparkSession, dir: String): DataFrame = {
    val dayNum = datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
    val cents = round(col("o_totalprice") * 100).cast("long")
    orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        dayNum.cast("long").as("day_num"), cents.as("price_cents"),
        hilbertValueD(Seq(col("o_custkey"), dayNum, cents), 8).as("hval"))
      .orderBy(col("o_orderkey"))
  }

  val q162Sql: String = {
    val bits = 8; val n = 3
    val keys = "o_orderkey, o_custkey, day_num, price_cents"
    val init = "s0 AS (SELECT o_orderkey, o_custkey, " +
      "date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day_num, " +
      "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, " +
      "CAST(o_custkey & 255 AS BIGINT) AS x0, " +
      "CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) & 255 AS BIGINT) AS x1, " +
      "CAST(CAST(round(o_totalprice * 100) AS BIGINT) & 255 AS BIGINT) AS x2 FROM orders)"
    // inverse-undo: levels Q = 128..2, each level = 3 sequential steps
    var stage = 0
    val undo = (1 until bits).reverse.flatMap { k =>
      val q = 1L << k; val p = q - 1
      (0 until n).map { i =>
        val prev = s"s$stage"; stage += 1
        val body =
          if (i == 0)
            s"CASE WHEN (x0 & $q) != 0 THEN xor(x0, $p) ELSE x0 END AS x0, x1, x2"
          else {
            val others = (1 until n).filter(_ != i).map(j => s"x$j").mkString(", ")
            s"CASE WHEN (x$i & $q) != 0 THEN xor(x0, $p) " +
              s"ELSE xor(x0, xor(x0, x$i) & $p) END AS x0, " +
              s"CASE WHEN (x$i & $q) != 0 THEN x$i " +
              s"ELSE xor(x$i, xor(x0, x$i) & $p) END AS x$i" +
              (if (others.nonEmpty) s", $others" else "")
          }
        s"s$stage AS (SELECT $keys, $body FROM $prev)"
      }
    }
    val gray = { val prev = s"s$stage"; stage += 1
      // sequential Gray: x1 ^= x0 then x2 ^= (new) x1 — one stage each
      Seq(s"s$stage AS (SELECT $keys, x0, xor(x1, x0) AS x1, x2 FROM $prev)",
        { val p2 = s"s$stage"; stage += 1
          s"s$stage AS (SELECT $keys, x0, x1, xor(x2, x1) AS x2 FROM $p2)" })
    }
    val tExpr = (1 until bits).map { k => val q = 1L << k
      s"(CASE WHEN (x2 & $q) != 0 THEN ${q - 1} ELSE 0 END)"
    }.reduce((a, b) => s"xor($a, $b)")
    val twist = { val prev = s"s$stage"; stage += 1
      s"s$stage AS (SELECT $keys, xor(x0, t) AS x0, xor(x1, t) AS x1, xor(x2, t) AS x2 " +
        s"FROM (SELECT *, $tExpr AS t FROM $prev))"
    }
    val interleave = (for { k <- 0 until bits; i <- 0 until n } yield
      s"(((x$i >> $k) & 1) << ${k * n + (n - 1 - i)})").mkString(" | ")
    s"WITH $init, ${(undo ++ gray :+ twist).mkString(", ")} " +
      s"SELECT $keys, ($interleave) AS hval FROM s$stage ORDER BY o_orderkey"
  }

  /** q164: the 3-D Morton codes over orders — q97's twin on q162's
    * keys (customer × order-day × price-cents, 16 bits each → a 48-bit
    * code). Pure flat interleave, so the DuckDB oracle replays the
    * identical 48 shift/mask terms bit-for-bit; q162-vs-q164 is the
    * d-dim rerun of the q160-vs-q97 curve comparison. */
  def q164Zorder3d(spark: SparkSession, dir: String): DataFrame = {
    val dayNum = datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
    val cents = round(col("o_totalprice") * 100).cast("long")
    orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        dayNum.cast("long").as("day_num"), cents.as("price_cents"),
        zValueD(Seq(col("o_custkey"), dayNum, cents), 16).as("zval"))
      .orderBy(col("o_orderkey"))
  }

  val q164Sql: String = {
    val n = 3
    val dims = Seq(
      "(o_custkey & 65535)",
      "(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) & 65535)",
      "(CAST(round(o_totalprice * 100) AS BIGINT) & 65535)")
    val terms = for { k <- 0 until 16; i <- 0 until n }
      yield s"(((${dims(i)} >> $k) & 1) << ${k * n + (n - 1 - i)})"
    "SELECT o_orderkey, o_custkey, " +
      "date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day_num, " +
      "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, " +
      s"(${terms.mkString(" | ")}) AS zval " +
      "FROM orders ORDER BY o_orderkey"
  }

  /** Small-file compaction — the other half of layout governance (a
    * streaming/incremental writer leaves thousands of KB-scale files;
    * at 100 TB the resulting open/footer/seek overhead dominates scan
    * time and crushes the driver's file index). Sizes the rewrite from
    * the ACTUAL on-disk bytes (compressed size ≈ rewritten size for the
    * same codec), one round-robin repartition to ceil(bytes/target)
    * writers. Returns the partition count used. LayoutSpec pins file
    * count and row parity. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L << 20): Int = {
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // RECURSIVE listing: partitioned layouts (this library's own
    // novel/batch=N ingest output, hive-style dirs) keep their data
    // files in subdirectories — a top-level listing would see 0 bytes
    // and "compact" any table into a single file. Count every
    // non-hidden data file, NOT just *.parquet: Hive/Impala-style
    // writers emit suffix-less part files that spark.read.parquet
    // reads fine, and a suffix filter would reject the whole table.
    val it = fs.listFiles(p, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) bytes += f.getLen
    }
    require(bytes > 0, s"compact: no data files under $inPath")
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inPath).repartition(n)
      .write.mode("overwrite").parquet(outPath)
    n
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q97_zorder" -> q97ZOrder _,
    "q160_hilbert" -> q160HilbertOrder _,
    "q162_hilbert3d" -> q162Hilbert3d _,
    "q164_zorder3d" -> q164Zorder3d _)

  val oracle: Map[String, String] = Map(
    "q97_zorder" -> q97Sql,
    "q160_hilbert" -> q160Sql,
    "q162_hilbert3d" -> q162Sql,
    "q164_zorder3d" -> q164Sql)
}
