package graft.queries

/** DuckDB SQL fragments for the oracle gate (CORRECTNESS_r{N}).
  *
  * Every fragment mirrors the exact arithmetic of its Spark twin — same casts,
  * same operation order, same rounding — so value-hash comparison is stable.
  */
private[queries] object Duck {

  /** The reference clean_text chain (utils/formatting.py:7-36) in DuckDB RE2,
    * mirroring graft.functions.TextFns.cleanText rule-for-rule.
    * `chr(10)` stands in for the newline replacements (RE2 replacement strings
    * don't interpret escapes beyond backrefs). */
  private val rules: Seq[(String, String)] = Seq(
    ("""'>\s+'""", "'>'"),
    ("""'\s+'""", "' '"),
    ("""'\s*<br\s*/?>\s*'""", "chr(10)"),
    ("""'</(div)\s*>\s*'""", "chr(10)"),
    ("""'</(p|h\d)\s*>\s*'""", "chr(10)||chr(10)"),
    ("""'<head>.*<\s*(/head|body)[^>]*>'""", "''"),
    ("""'<a\s+href="([^"]+)"[^>]*>.*</a>'""", """'\1'"""),
    ("""'[ \t]*<[^<]*?/?>'""", "''"),
    ("""'^\s+'""", "''"))

  private val punctRule = ("""'[.,\/#!$%\^&\*;:{}=\-_`~()]'""", "''")

  /** clean_text(expr) as a DuckDB expression string. */
  def clean(expr: String, punct: Boolean): String = {
    val rs = rules ++ (if (punct) Seq(punctRule) else Nil)
    val chained = rs.foldLeft(expr) { case (acc, (p, r)) =>
      s"regexp_replace($acc, $p, $r, 'g')"
    }
    "lower(regexp_replace(" + chained + ", '" + """\s+$""" + "', '', 'g'))"
  }

  // ---- Vector fragments (mirror graft.functions.VecFns / Similarity) --------
  // All folds use list_reduce, whose left-to-right order matches the kernels'
  // sequential ascending-dim accumulation (acc starts at element 1; 0.0 + x1
  // is bit-equal to x1), so doubles agree to the last bit.

  /** Sequential dot product of two array expressions, in double. */
  def dot(a: String, b: String): String =
    s"list_reduce([CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE) " +
      s"FOR i IN range(1, len($a)+1)], (x,y) -> x+y)"

  /** VecCosine twin: denom = sqrt(na)*sqrt(nb), 0.0 on zero denom. */
  def cosine(a: String, b: String): String =
    s"CASE WHEN sqrt(${dot(a, a)})*sqrt(${dot(b, b)}) = 0 THEN 0.0 " +
      s"ELSE ${dot(a, b)}/(sqrt(${dot(a, a)})*sqrt(${dot(b, b)})) END"

  /** VecL2Sq twin: sequential Σ (a_i - b_i)^2 in double. */
  def l2Sq(a: String, b: String): String =
    s"list_reduce([(CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE))" +
      s"*(CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE)) " +
      s"FOR i IN range(1, len($a)+1)], (x,y) -> x+y)"

  /** Similarity.planeComponent twin; `j` is a 0-based dim index expression. */
  private def planeComponent(k: Int, j: String): String =
    s"(((($k*2654435761 + ($j)*40503 + 12345) % 100000) + 100000) % 100000)" +
      "/100000.0 - 0.5"

  /** Similarity.signBits twin: `planes`-bit sign-LSH bucket of a vector expr. */
  def signBucket(v: String, planes: Int): String = {
    val bits = (0 until planes).map { k =>
      val dk = s"list_reduce([CAST($v[i] AS DOUBLE)*(${planeComponent(k, "i-1")}) " +
        s"FOR i IN range(1, len($v)+1)], (x,y) -> x+y)"
      s"CASE WHEN $dk >= 0 THEN ${1L << k} ELSE 0 END"
    }
    bits.mkString("(", " + ", ")")
  }

  /** VecFns.addPseudoNoise twin over `vec` keyed by `rowId` (both column
    * names), as a DOUBLE[] list expression. */
  def pseudoNoise(vec: String, rowId: String, sigma: String): String =
    s"[CAST($vec[i] AS DOUBLE) + $sigma*((((($rowId*2654435761 + (i-1)*40503) " +
      s"% 100000) + 100000) % 100000) / 100000.0 - 0.5) " +
      s"FOR i IN range(1, len($vec)+1)]"

  // ---- splitmix64 in SQL (mirror graft.embed.HashingProvider) ---------------
  // Values live as non-negative HUGEINT (mod 2^64): xor/•//2^n are exact 64-bit
  // ops there, and wrapping +/× go through explicit % 2^64 with a 32-bit split
  // multiply (the 128-bit product of two 64-bit values would overflow HUGEINT).

  private val M64 = "18446744073709551616" // 2^64
  private val M32 = "4294967296" // 2^32

  /** Wrapping unsigned 64-bit multiply of expression `a` by constant `c`.
    * The CAST pins HUGEINT arithmetic even when `a` is a plain integer column
    * (an INT64 intermediate would overflow-error under DuckDB's checks). */
  private def wmulU(a: String, c: BigInt): String = {
    val clo = c & 0xFFFFFFFFL
    val chi = c >> 32
    val au = s"CAST($a AS HUGEINT)"
    s"((($au % $M32) * $clo + ((($au % $M32) * $chi + ($au // $M32) * $clo) % $M32) * $M32) % $M64)"
  }

  /** Left-rotate of an unsigned 64-bit HUGEINT expression by constant `r`. */
  private def rotlU(x: String, r: Int): String = {
    val loMod = BigInt(1) << (64 - r)
    val mul = BigInt(1) << r
    s"((CAST($x AS HUGEINT) % $loMod) * $mul + CAST($x AS HUGEINT) // $loMod)"
  }

  private def staged(inner: String, stages: Seq[(String, String)]): String =
    stages.foldLeft(inner) { case (q, (name, expr)) =>
      s"SELECT *, $expr AS $name FROM ($q)"
    }

  /** Wrap `inner` (a SELECT yielding HUGEINT `x0` + passthrough columns) in
    * staged projections computing splitmix64(x0) as column `sm` — staging keeps
    * each repeated subterm a column reference instead of an exponentially
    * duplicated expression. Constants are the unsigned spellings of the Java
    * literals in HashingProvider.splitmix64. */
  def splitmix64(inner: String): String = {
    val stages = Seq(
      "x1" -> s"(x0 + 11400714819323198485) % $M64",
      "t1" -> "xor(x1, x1 // 1073741824)", // >>> 30
      "x2" -> wmulU("t1", BigInt("BF58476D1CE4E5B9", 16)),
      "t2" -> "xor(x2, x2 // 134217728)", // >>> 27
      "x3" -> wmulU("t2", BigInt("94D049BB133111EB", 16)),
      "sm" -> "xor(x3, x3 // 2147483648)") // >>> 31
    stages.foldLeft(inner) { case (q, (name, expr)) =>
      s"SELECT *, $expr AS $name FROM ($q)"
    }
  }

  /** Unsigned (mod 2^64) HUGEINT expression → signed 64-bit BIGINT. */
  def toSigned(v: String): String =
    s"(CASE WHEN $v >= 9223372036854775808 THEN CAST($v - $M64 AS BIGINT) " +
      s"ELSE CAST($v AS BIGINT) END)"

  /** Java `Long.MaxValue.toDouble` (rounds to 2^63). */
  val MaxLongD = "CAST(9223372036854775807 AS DOUBLE)"

  /** Sequential left-fold sum of a DOUBLE list expression (prepends the 0.0
    * seed so the accumulation order matches `aggregate(a, 0.0, _+_)`). */
  def foldSum(list: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $list), (a, b) -> a + b)"

  // ---- XXH64 in SQL (mirror Spark's xxhash64; xxHash is a public algorithm) --
  // Same unsigned-HUGEINT technique as splitmix64. Spark's `xxhash64(cols…)`
  // threads the running hash as the seed through per-field kernels starting at
  // seed 42: hashInt for INT, hashLong for BIGINT, the full streaming XXH64
  // (32-byte 4-lane stripes, 8/4/1-byte tails) for STRING bytes. ASCII corpus
  // ⇒ UTF-8 bytes equal `unicode()` codepoints.

  private val XA = BigInt("9E3779B185EBCA87", 16) // PRIME64_1
  private val XB = BigInt("C2B2AE3D27D4EB4F", 16) // PRIME64_2
  private val XC = BigInt("165667B19E3779F9", 16) // PRIME64_3
  private val XD = BigInt("85EBCA77C2B2AE63", 16) // PRIME64_4
  private val XE = BigInt("27D4EB2F165667C5", 16) // PRIME64_5

  /** XXH64 finalization avalanche as staged projections → column `out`. */
  private def fmixStages(h: String, out: String, pfx: String): Seq[(String, String)] = Seq(
    s"${pfx}fa" -> s"xor($h, ($h) // 8589934592)", // >>> 33
    s"${pfx}fb" -> wmulU(s"${pfx}fa", XB),
    s"${pfx}fc" -> s"xor(${pfx}fb, ${pfx}fb // 536870912)", // >>> 29
    s"${pfx}fd" -> wmulU(s"${pfx}fc", XC),
    out -> s"xor(${pfx}fd, ${pfx}fd // 4294967296)") // >>> 32

  /** Spark XxHash64.hashInt(i, seed) → column `out` (staged). `i` must be a
    * non-negative HUGEINT expression (the 4-byte value). */
  def xxhashIntStages(i: String, seed: String, out: String, pfx: String): Seq[(String, String)] = Seq(
    s"${pfx}a" -> s"xor(($seed + $XE + 4) % $M64, ${wmulU(i, XA)})",
    s"${pfx}b" -> s"(${wmulU(rotlU(s"${pfx}a", 23), XB)} + $XC) % $M64") ++
    fmixStages(s"${pfx}b", out, pfx)

  /** Spark XxHash64.hashLong(l, seed) → column `out` (staged); `l` unsigned. */
  def xxhashLongStages(l: String, seed: String, out: String, pfx: String): Seq[(String, String)] = Seq(
    s"${pfx}a" -> s"($seed + $XE + 8) % $M64",
    s"${pfx}b" -> s"xor(${pfx}a, ${wmulU(rotlU(wmulU(l, XB), 31), XA)})",
    s"${pfx}c" -> s"(${wmulU(rotlU(s"${pfx}b", 27), XA)} + $XD) % $M64") ++
    fmixStages(s"${pfx}c", out, pfx)

  /** Apply staged projections to `inner`. */
  def stagedSql(inner: String, stages: Seq[(String, String)]): String =
    staged(inner, stages)

  /** One bulk-lane round: rotl(v + w·P2, 31) · P1. */
  private def xLane(v: String, w: String): String =
    wmulU(rotlU(s"(($v) + ${wmulU(w, XB)}) % $M64", 31), XA)

  /** One lane merge: (h ⊕ rotl(v·P2,31)·P1) · P1 + P4. */
  private def xMerge(h: String, v: String): String =
    s"(${wmulU(s"xor($h, ${wmulU(rotlU(wmulU(v, XB), 31), XA)})", XA)} + $XD) % $M64"

  /** One 8-byte word round: h = rotl(h ⊕ rotl(w·P2,31)·P1, 27)·P1 + P4. */
  private def xWordRound(h: String, w: String): String =
    s"(${wmulU(rotlU(s"xor($h, ${wmulU(rotlU(wmulU(w, XB), 31), XA)})", 27), XA)} + $XD) % $M64"

  /** 4-byte round: h = rotl(h ⊕ w4·P1, 23)·P2 + P3. */
  private def xIntRound(h: String, w4: String): String =
    s"(${wmulU(rotlU(s"xor($h, ${wmulU(w4, XA)})", 23), XB)} + $XC) % $M64"

  /** 1-byte round: h = rotl(h ⊕ c·P5, 11)·P1. */
  private def xByteRound(h: String, c: String): String =
    wmulU(rotlU(s"xor($h, ${wmulU(c, XE)})", 11), XA)

  /** CTE chain hashing each row of `strs(sid, s, seed)` with streaming XXH64 →
    * `xstr(sid, h)` (h unsigned HUGEINT). Must live under WITH RECURSIVE: the
    * 32-byte stripe loop and the 8-byte word loop are recursive CTEs whose
    * state rows advance one block per step; the ≤7-byte tail and avalanche are
    * staged CASE projections. ASCII input only. */
  def xxh64StrCtes(strs: String): String = {
    val byteMul = "CASE bp % 8 WHEN 0 THEN 1 WHEN 1 THEN 256 WHEN 2 THEN 65536 " +
      "WHEN 3 THEN 16777216 WHEN 4 THEN 4294967296 WHEN 5 THEN 1099511627776 " +
      "WHEN 6 THEN 281474976710656 ELSE 72057594037927936 END"
    val byteMul4 = "CASE bp % 4 WHEN 0 THEN 1 WHEN 1 THEN 256 WHEN 2 THEN 65536 " +
      "ELSE 16777216 END"
    val tailSrc =
      s"""SELECT a.sid, a.h AS h0, l.n, w4.w4v, t0.code AS c0, t1.code AS c1, t2.code AS c2
         |  FROM xafterw a JOIN xlen l ON l.sid = a.sid
         |  LEFT JOIN (SELECT sid, bp // 4 AS qi,
         |      CAST(sum(code * ($byteMul4)) AS HUGEINT) AS w4v
         |    FROM xcodes GROUP BY sid, bp // 4) w4
         |    ON w4.sid = a.sid AND l.n % 8 >= 4 AND w4.qi = l.totwords * 2
         |  LEFT JOIN xcodes t0 ON t0.sid = a.sid
         |    AND t0.bp = l.totwords * 8 + (CASE WHEN l.n % 8 >= 4 THEN 4 ELSE 0 END)
         |  LEFT JOIN xcodes t1 ON t1.sid = a.sid
         |    AND t1.bp = l.totwords * 8 + (CASE WHEN l.n % 8 >= 4 THEN 4 ELSE 0 END) + 1
         |  LEFT JOIN xcodes t2 ON t2.sid = a.sid
         |    AND t2.bp = l.totwords * 8 + (CASE WHEN l.n % 8 >= 4 THEN 4 ELSE 0 END) + 2"""
        .stripMargin
    s"""xlen AS (SELECT sid, seed, length(s) AS n,
       |    CASE WHEN length(s) >= 32 THEN length(s) // 32 ELSE 0 END AS nstripes,
       |    length(s) // 8 AS totwords FROM $strs),
       |xcodes AS (SELECT sid, unnest(range(0, length(s))) AS bp,
       |    unnest([CAST(unicode(c) AS HUGEINT) FOR c IN string_split(s, '')]) AS code
       |  FROM $strs WHERE length(s) > 0),
       |xwords AS (SELECT sid, bp // 8 AS wi,
       |    CAST(sum(code * ($byteMul)) AS HUGEINT) AS w
       |  FROM xcodes GROUP BY sid, bp // 8),
       |xstripe AS (
       |  SELECT l.sid, 0 AS si,
       |    (l.seed + $XA + $XB) % $M64 AS v1,
       |    (l.seed + $XB) % $M64 AS v2,
       |    l.seed AS v3,
       |    (l.seed + $M64 - $XA) % $M64 AS v4
       |  FROM xlen l WHERE l.nstripes > 0
       |  UNION ALL
       |  SELECT u.sid, u.si + 1,
       |    ${xLane("u.v1", "u.w0")}, ${xLane("u.v2", "u.w1")},
       |    ${xLane("u.v3", "u.w2")}, ${xLane("u.v4", "u.w3")}
       |  FROM (
       |    SELECT st.sid, st.si, st.v1, st.v2, st.v3, st.v4,
       |      a.w AS w0, b.w AS w1, c.w AS w2, d.w AS w3
       |    FROM xstripe st
       |    JOIN xlen l ON l.sid = st.sid AND st.si < l.nstripes
       |    JOIN xwords a ON a.sid = st.sid AND a.wi = st.si * 4
       |    JOIN xwords b ON b.sid = st.sid AND b.wi = st.si * 4 + 1
       |    JOIN xwords c ON c.sid = st.sid AND c.wi = st.si * 4 + 2
       |    JOIN xwords d ON d.sid = st.sid AND d.wi = st.si * 4 + 3
       |  ) u
       |),
       |xbulk AS (SELECT sid, m4 AS h FROM (
       |  ${staged(
              "SELECT st.sid, st.v1, st.v2, st.v3, st.v4 FROM xstripe st " +
                "JOIN xlen l ON l.sid = st.sid AND st.si = l.nstripes WHERE l.nstripes > 0",
              Seq(
                "m0" -> s"(${rotlU("v1", 1)} + ${rotlU("v2", 7)} + ${rotlU("v3", 12)} + ${rotlU("v4", 18)}) % $M64",
                "m1" -> xMerge("m0", "v1"), "m2" -> xMerge("m1", "v2"),
                "m3" -> xMerge("m2", "v3"), "m4" -> xMerge("m3", "v4")))}
       |)),
       |xinit AS (SELECT l.sid, l.totwords, l.nstripes * 4 AS wi0,
       |    ((CASE WHEN l.nstripes > 0 THEN b.h ELSE (l.seed + $XE) % $M64 END) + l.n) % $M64 AS h
       |  FROM xlen l LEFT JOIN xbulk b ON b.sid = l.sid),
       |xwloop AS (
       |  SELECT sid, wi0 AS wi, h FROM xinit
       |  UNION ALL
       |  SELECT u.sid, u.wi + 1, ${xWordRound("u.h", "u.w")}
       |  FROM (
       |    SELECT wl.sid, wl.wi, wl.h, w.w FROM xwloop wl
       |    JOIN xlen l ON l.sid = wl.sid AND wl.wi < l.totwords
       |    JOIN xwords w ON w.sid = wl.sid AND w.wi = wl.wi
       |  ) u
       |),
       |xafterw AS (SELECT wl.sid, wl.h FROM xwloop wl
       |  JOIN xlen l ON l.sid = wl.sid AND wl.wi = l.totwords),
       |xtail AS (SELECT sid, h FROM (
       |  ${staged(tailSrc,
              Seq(
                "h4" -> s"CASE WHEN w4v IS NULL THEN h0 ELSE ${xIntRound("h0", "w4v")} END",
                "hb0" -> s"CASE WHEN c0 IS NULL THEN h4 ELSE ${xByteRound("h4", "c0")} END",
                "hb1" -> s"CASE WHEN c1 IS NULL THEN hb0 ELSE ${xByteRound("hb0", "c1")} END",
                "hb2" -> s"CASE WHEN c2 IS NULL THEN hb1 ELSE ${xByteRound("hb1", "c2")} END")
                ++ fmixStages("hb2", "h", ""))}
       |)),
       |xstr AS (SELECT sid, h FROM xtail)""".stripMargin
  }

  /** Recursive-CTE replay of the faithful reset DDM (graft.operators.Drift
    * .ddmSequential / Ddm.addElement): one recursion step per feed row carries
    * the full detector state (count, p, s, the tracked minima, and the
    * reset-on-next-element flag) and mirrors the state machine's floating-point
    * operation order exactly, so the unrounded doubles are bit-identical to the
    * Spark scan (rounding is deliberately NOT applied: round() itself diverges
    * across engines on half boundaries, the raw bits never do).
    *
    * @param feedSql SELECT producing (ord, err) — one row per detector step,
    *                scanned in ascending `ord` order.
    * @param outOrd  output name for the step column.
    * @return SQL yielding (outOrd, error, p, s, signal ∈ {'N','W','D'}).
    */
  def ddmRecursive(feedSql: String, outOrd: String): String =
    s"""WITH RECURSIVE seq AS (
       |  SELECT ord, err, row_number() OVER (ORDER BY ord) AS i FROM ($feedSql) feed
       |),
       |ddm AS (
       |  SELECT CAST(0 AS BIGINT) AS i, CAST(NULL AS BIGINT) AS ord,
       |         CAST(NULL AS DOUBLE) AS err,
       |         1 AS cnt, CAST(1.0 AS DOUBLE) AS p, CAST(0.0 AS DOUBLE) AS s,
       |         CAST('infinity' AS DOUBLE) AS pmin, CAST('infinity' AS DOUBLE) AS smin,
       |         CAST('infinity' AS DOUBLE) AS psmin, FALSE AS cc,
       |         CAST('N' AS VARCHAR) AS signal
       |  UNION ALL
       |  SELECT i, ord, err, cnt0 + 1, np, ns,
       |         CASE WHEN upd THEN np ELSE pmin0 END,
       |         CASE WHEN upd THEN ns ELSE smin0 END,
       |         CASE WHEN upd THEN np + ns ELSE psmin0 END,
       |         sig = 'D', sig
       |  FROM (
       |    SELECT *, CASE WHEN cnt0 + 1 < ${graft.operators.Drift.MinNumInstances} THEN 'N'
       |        WHEN np + ns > (CASE WHEN upd THEN np ELSE pmin0 END)
       |             + 3.0 * (CASE WHEN upd THEN ns ELSE smin0 END) THEN 'D'
       |        WHEN np + ns > (CASE WHEN upd THEN np ELSE pmin0 END)
       |             + 2.0 * (CASE WHEN upd THEN ns ELSE smin0 END) THEN 'W'
       |        ELSE 'N' END AS sig
       |    FROM (
       |      SELECT *, (cnt0 + 1 >= ${graft.operators.Drift.MinNumInstances}
       |                 AND np + ns <= psmin0) AS upd
       |      FROM (
       |        SELECT *, sqrt(np * (1.0 - np) / cnt0) AS ns
       |        FROM (
       |          SELECT *, p0 + (err - p0) / cnt0 AS np
       |          FROM (
       |            SELECT q.i, q.ord, q.err,
       |                   CASE WHEN d.cc THEN 1 ELSE d.cnt END AS cnt0,
       |                   CASE WHEN d.cc THEN CAST(1.0 AS DOUBLE) ELSE d.p END AS p0,
       |                   CASE WHEN d.cc THEN CAST('infinity' AS DOUBLE) ELSE d.pmin END AS pmin0,
       |                   CASE WHEN d.cc THEN CAST('infinity' AS DOUBLE) ELSE d.smin END AS smin0,
       |                   CASE WHEN d.cc THEN CAST('infinity' AS DOUBLE) ELSE d.psmin END AS psmin0
       |            FROM ddm d JOIN seq q ON q.i = d.i + 1
       |          ) s1
       |        ) s2
       |      ) s3
       |    ) s4
       |  ) s5
       |)
       |SELECT ord AS $outOrd, err AS error, p, s, signal
       |FROM ddm WHERE i > 0 ORDER BY 1""".stripMargin

  /** DuckDB twin of graft.operators.Report.experimentReport: the global
    * `time` is the per-stream offset (count of all earlier streams' rows)
    * plus the rank within the stream by batch_id; the reset DDM
    * ([[ddmRecursive]]) runs over err = 1 - accuracy in `time` order on the
    * streams before `detectorEnd` (every stream when None), and its signal
    * maps D → 'Drift', W → 'Warning', anything else (and the post-hoc
    * streams' missing signal) → 'None'.
    *
    * @param feedSql SELECT producing (stream_ord, stream, batch_id, accuracy).
    * @return SQL yielding (time, stream, accuracy, detection) ordered by time.
    */
  def experimentReport(feedSql: String, detectorEnd: Option[Int] = None): String = {
    val cut = detectorEnd.fold("")(end => s" WHERE stream_ord < $end")
    s"""WITH feed AS ($feedSql),
       |offs AS (SELECT stream_ord, count(*) AS c FROM feed GROUP BY 1),
       |offs2 AS (SELECT stream_ord, CAST(coalesce(sum(c) OVER (ORDER BY stream_ord
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off FROM offs),
       |timed AS (SELECT f.stream_ord, f.stream, f.accuracy,
       |    CAST(o.off + row_number() OVER (PARTITION BY f.stream_ord ORDER BY f.batch_id) - 1
       |      AS BIGINT) AS time
       |  FROM feed f JOIN offs2 o USING (stream_ord)),
       |sig AS (${ddmRecursive(s"SELECT time AS ord, 1.0 - accuracy AS err FROM timed$cut", "time")})
       |SELECT t.time, t.stream, round(t.accuracy, 6) AS accuracy,
       |  CASE sig.signal WHEN 'D' THEN 'Drift' WHEN 'W' THEN 'Warning'
       |    ELSE 'None' END AS detection
       |FROM timed t LEFT JOIN sig USING (time)
       |ORDER BY time""".stripMargin
  }
}
