package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryFixtures._

/** Round-5 continuation gates. Same conventions as [[Queries]]. */
object Queries5 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private def prep(s: SparkSession): Unit = functions.GraftFunctions.register(s)

  // ------------------------------------------------------------------
  // SURF correlator gates (r53 detection, r54 matching). The synthetic
  // pair is a lattice of square pyramids with quasi-random integer
  // amplitudes; image 2 is image 1 translated by (5, 9), so interior
  // feature points have bit-identical descriptors and the matcher must
  // recover the translation. All pixel values are small integers, so
  // every integral-image / Haar / Hessian sum is exact in IEEE doubles
  // and the DuckDB twin (windowed prefix sums + corner joins, a
  // different evaluation ORDER) still agrees bit-for-bit.
  // ------------------------------------------------------------------

  private val SurfH = 96
  private val SurfW = 96
  private val SurfShiftR = 5
  private val SurfShiftC = 9
  private val SurfThr = 0.05
  private val MatchThr = 0.015

  /** Blob-lattice luminosity: 8px cells, centred square pyramids of
    * height amp(cell) ∈ [0, 8]. Identical closed form in [[surfSqlPix]]. */
  private def surfPixel(r: Int, c: Int): Double = {
    val br = r / 8; val bc = c / 8
    val dr = r - br * 8 - 4; val dc = c - bc * 8 - 4
    val amp = (br * br * 3 + bc * bc * 5 + br * bc) % 9
    val d = math.max(math.abs(dr), math.abs(dc))
    if (d < 4) amp.toDouble * (4 - d) else 0.0
  }

  private def surfImages(s: SparkSession): DataFrame = {
    import s.implicits._
    val imgs = Seq(1L, 2L).map { id =>
      val (sr, sc) = if (id == 2L) (SurfShiftR, SurfShiftC) else (0, 0)
      (id, SurfH, SurfW,
        Array.tabulate(SurfH * SurfW)(i => surfPixel(i / SurfW + sr, i % SurfW + sc)))
    }
    s.createDataset(imgs).toDF("img_id", "h", "w", "pixels")
  }

  /** DuckDB twin of the full SURF detection pipeline, shared by both
    * gates. Emits CTEs through `fp` (feature points) and `dvals`
    * (descriptor components keyed 0..63). Structured relationally —
    * prefix-sum integral image, one row per boundary-clamped rectangle
    * CORNER — so nothing materializes a per-row copy of the image. */
  private def surfDetectCtes: String = {
    val H = SurfH; val W = SurfW
    def fSql(rE: String, cE: String): String =
      s"""(CASE WHEN greatest(abs(($rE) - (($rE)//8)*8 - 4), abs(($cE) - (($cE)//8)*8 - 4)) < 4
          THEN CAST((((($rE)//8)*(($rE)//8)*3 + (($cE)//8)*(($cE)//8)*5 + (($rE)//8)*(($cE)//8)) % 9)
               * (4 - greatest(abs(($rE) - (($rE)//8)*8 - 4), abs(($cE) - (($cE)//8)*8 - 4))) AS DOUBLE)
          ELSE 0.0 END)"""
    s"""
    imgs AS (SELECT 1 AS img UNION ALL SELECT 2),
    cells AS (SELECT a.range AS r, b.range AS c FROM range($H) a, range($W) b),
    pix AS (SELECT img, r, c,
              CASE WHEN img = 2 THEN ${fSql(s"r + $SurfShiftR", s"c + $SurfShiftC")}
                   ELSE ${fSql("r", "c")} END AS v
            FROM imgs, cells),
    rc0 AS (SELECT img, r, c, SUM(v) OVER (PARTITION BY img, r ORDER BY c) AS s1 FROM pix),
    ii AS MATERIALIZED (SELECT img, r, c, SUM(s1) OVER (PARTITION BY img, c ORDER BY r) AS s FROM rc0),
    lyrdef(oct, lyr, fs, radius, lobe, lp, norm) AS (VALUES
      (1,1,7,3,2,3,49),(1,2,13,6,4,7,169),(1,3,19,9,6,11,361),(1,4,25,12,8,15,625),
      (2,1,13,6,4,7,169),(2,2,25,12,8,15,625),(2,3,37,18,12,23,1369),(2,4,49,24,16,31,2401)),
    band AS (SELECT i.img, l.oct, l.lyr, l.fs, l.radius, l.lobe, l.lp, l.norm, g.r, g.c
             FROM lyrdef l, imgs i, cells g
             WHERE g.r >= l.radius AND g.r <= $H - l.radius
               AND g.c >= l.radius AND g.c <= $W - l.radius),
    rects AS (SELECT img, oct, lyr, norm, r, c,
                     u.rid, u.coef, u.tag, u.rrow, u.rcol, u.rw, u.rh
              FROM band, UNNEST([
                {'rid': 1, 'coef': 1.0, 'tag': 'xx', 'rrow': r - lobe + 1, 'rcol': c - radius, 'rw': fs, 'rh': lp},
                {'rid': 2, 'coef': -3.0, 'tag': 'xx', 'rrow': r - lobe + 1, 'rcol': c - (lobe - 1)//2, 'rw': lobe, 'rh': lp},
                {'rid': 3, 'coef': 1.0, 'tag': 'yy', 'rrow': r - radius, 'rcol': c - lobe - 1, 'rw': lp, 'rh': fs},
                {'rid': 4, 'coef': -3.0, 'tag': 'yy', 'rrow': r - lobe + 1, 'rcol': c - lobe + 1, 'rw': lp, 'rh': lobe},
                {'rid': 5, 'coef': 1.0, 'tag': 'xy', 'rrow': r - lobe, 'rcol': c - lobe, 'rw': lobe, 'rh': lobe},
                {'rid': 6, 'coef': 1.0, 'tag': 'xy', 'rrow': r + 1, 'rcol': c + 1, 'rw': lobe, 'rh': lobe},
                {'rid': 7, 'coef': -1.0, 'tag': 'xy', 'rrow': r - lobe, 'rcol': c + 1, 'rw': lobe, 'rh': lobe},
                {'rid': 8, 'coef': -1.0, 'tag': 'xy', 'rrow': r + 1, 'rcol': c - lobe, 'rw': lobe, 'rh': lobe}
              ]) AS t(u)),
    rcorn AS (SELECT img, oct, lyr, norm, r, c, rid, coef, tag, v.cs,
                     CASE WHEN v.cn IN ('a', 'b') THEN ltr ELSE rbr END AS rr,
                     CASE WHEN v.cn IN ('a', 'd') THEN ltc ELSE rbc END AS cc
              FROM (SELECT *,
                      CASE WHEN rrow <= $H THEN rrow - 1 ELSE -1 END AS ltr,
                      CASE WHEN rcol <= $W THEN rcol - 1 ELSE -1 END AS ltc,
                      CASE WHEN rrow + rh - 1 < $H THEN rrow + rh - 1 ELSE ${H - 1} END AS rbr,
                      CASE WHEN rcol + rw - 1 < $W THEN rcol + rw - 1 ELSE ${W - 1} END AS rbc
                    FROM rects) rx,
                   UNNEST([{'cn': 'a', 'cs': 1.0}, {'cn': 'b', 'cs': -1.0},
                           {'cn': 'c', 'cs': 1.0}, {'cn': 'd', 'cs': -1.0}]) AS t2(v)),
    rsums AS (SELECT img, oct, lyr, norm, r, c, rid, coef, tag,
                     CASE WHEN s0 > 0 THEN s0 ELSE 0 END AS rs
              FROM (SELECT rcorn.img, oct, lyr, norm, rcorn.r, rcorn.c, rid, coef, tag,
                           SUM(cs * COALESCE(iv.s, 0)) AS s0
                    FROM rcorn LEFT JOIN ii iv
                      ON iv.img = rcorn.img AND iv.r = rcorn.rr AND iv.c = rcorn.cc
                    GROUP BY ALL) t3),
    hes AS MATERIALIZED (SELECT img, oct, lyr, r, c,
                   (dxx/norm)*(dyy/norm) - 0.9*0.9*(dxy/norm)*(dxy/norm) AS det,
                   CASE WHEN dxx/norm + dyy/norm >= 0 THEN 1 ELSE -1 END AS sgn
            FROM (SELECT img, oct, lyr, norm, r, c,
                         SUM(CASE WHEN tag = 'xx' THEN coef*rs ELSE 0 END) AS dxx,
                         SUM(CASE WHEN tag = 'yy' THEN coef*rs ELSE 0 END) AS dyy,
                         SUM(CASE WHEN tag = 'xy' THEN coef*rs ELSE 0 END) AS dxy
                  FROM rsums GROUP BY ALL) t4),
    trip(oct, k, botl, midl, topl, toprad, scale, radius) AS (VALUES
      (1,0,1,2,3,9,2,6),(1,1,2,3,4,12,2,9),(2,0,1,2,3,18,4,12),(2,1,2,3,4,24,4,18)),
    cand AS (SELECT h.img, t.oct, t.k, h.r, h.c, h.det, h.sgn,
                    t.scale, t.radius, t.botl, t.midl, t.topl
             FROM hes h JOIN trip t ON h.oct = t.oct AND h.lyr = t.midl
             WHERE h.r > t.toprad AND h.c > t.toprad
               AND h.r + t.toprad < $H AND h.c + t.toprad < $W
               AND h.det >= $SurfThr),
    neigh AS (SELECT h.img, h.oct, h.lyr, h.r + o.di AS rr, h.c + o.dj AS cc, h.det AS nd,
                     (o.di = 0 AND o.dj = 0) AS slf
              FROM hes h, (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(di, dj)),
    ext AS (SELECT c.img, c.oct, c.k, c.r, c.c, c.det, c.sgn, c.scale, c.radius
            FROM cand c JOIN neigh n ON n.img = c.img AND n.oct = c.oct
                 AND n.rr = c.r AND n.cc = c.c AND n.lyr IN (c.botl, c.midl, c.topl)
            GROUP BY ALL
            HAVING bool_and(CASE WHEN n.lyr = c.midl AND n.slf THEN true
                                 ELSE n.nd < c.det END)),
    fp AS MATERIALIZED (SELECT img,
                  row_number() OVER (PARTITION BY img ORDER BY oct, k, r, c) - 1 AS fid,
                  c AS x, r AS y, scale, radius, sgn FROM ext),
    q16 AS (SELECT a.range AS qr, b.range AS qc FROM range(4) a, range(4) b),
    s25 AS (SELECT a.range AS sr, b.range AS sc FROM range(5) a, range(5) b),
    dsub AS (SELECT f.img, f.fid, q.qr, q.qc, s.sr, s.sc, f.scale,
                    f.y - 10*f.scale + q.qr*5*f.scale + s.sr*f.scale + f.scale//2 - f.scale AS hr0,
                    f.x - 10*f.scale + q.qc*5*f.scale + s.sc*f.scale + f.scale//2 - f.scale AS hc0
             FROM fp f, q16 q, s25 s),
    hrect AS (SELECT img, fid, qr, qc, sr, sc,
                     u.hid, u.ax, u.sg, u.rrow, u.rcol, u.rw, u.rh
              FROM dsub, UNNEST([
                {'hid': 1, 'ax': 'x', 'sg': 1.0, 'rrow': hr0, 'rcol': hc0 + scale, 'rw': scale, 'rh': 2*scale},
                {'hid': 2, 'ax': 'x', 'sg': -1.0, 'rrow': hr0, 'rcol': hc0, 'rw': scale, 'rh': 2*scale},
                {'hid': 3, 'ax': 'y', 'sg': 1.0, 'rrow': hr0 + scale, 'rcol': hc0, 'rw': 2*scale, 'rh': scale},
                {'hid': 4, 'ax': 'y', 'sg': -1.0, 'rrow': hr0, 'rcol': hc0, 'rw': 2*scale, 'rh': scale}
              ]) AS t(u)),
    hcorn AS (SELECT img, fid, qr, qc, sr, sc, hid, ax, sg, v.cs,
                     CASE WHEN v.cn IN ('a', 'b') THEN ltr ELSE rbr END AS rr,
                     CASE WHEN v.cn IN ('a', 'd') THEN ltc ELSE rbc END AS cc
              FROM (SELECT *,
                      CASE WHEN rrow <= $H THEN rrow - 1 ELSE -1 END AS ltr,
                      CASE WHEN rcol <= $W THEN rcol - 1 ELSE -1 END AS ltc,
                      CASE WHEN rrow + rh - 1 < $H THEN rrow + rh - 1 ELSE ${H - 1} END AS rbr,
                      CASE WHEN rcol + rw - 1 < $W THEN rcol + rw - 1 ELSE ${W - 1} END AS rbc
                    FROM hrect) hx,
                   UNNEST([{'cn': 'a', 'cs': 1.0}, {'cn': 'b', 'cs': -1.0},
                           {'cn': 'c', 'cs': 1.0}, {'cn': 'd', 'cs': -1.0}]) AS t2(v)),
    hrsums AS (SELECT img, fid, qr, qc, sr, sc, hid, ax, sg,
                      CASE WHEN s0 > 0 THEN s0 ELSE 0 END AS rs
               FROM (SELECT hcorn.img, fid, qr, qc, sr, sc, hid, ax, sg,
                            SUM(cs * COALESCE(iv.s, 0)) AS s0
                     FROM hcorn LEFT JOIN ii iv
                       ON iv.img = hcorn.img AND iv.r = hcorn.rr AND iv.c = hcorn.cc
                     GROUP BY ALL) t5),
    hwav AS (SELECT img, fid, qr, qc, sr, sc,
                    SUM(CASE WHEN ax = 'x' THEN sg*rs ELSE 0 END) AS hx,
                    SUM(CASE WHEN ax = 'y' THEN sg*rs ELSE 0 END) AS hy
             FROM hrsums GROUP BY ALL),
    dcomp AS (SELECT img, fid, qr, qc,
                     SUM(hx) AS dx, SUM(hy) AS dy,
                     SUM(abs(hx)) AS adx, SUM(abs(hy)) AS ady
              FROM hwav GROUP BY ALL),
    dvals AS MATERIALIZED (
      SELECT img, fid, (qr*4 + qc)*4 + 0 AS k, dx AS v FROM dcomp
      UNION ALL SELECT img, fid, (qr*4 + qc)*4 + 1, dy FROM dcomp
      UNION ALL SELECT img, fid, (qr*4 + qc)*4 + 2, adx FROM dcomp
      UNION ALL SELECT img, fid, (qr*4 + qc)*4 + 3, ady FROM dcomp)"""
  }

  private def surfPointsSql: String =
    s"""WITH ${surfDetectCtes}
    SELECT CAST(f.img AS BIGINT) AS img_id, CAST(f.fid AS BIGINT) AS fid,
           CAST(f.x AS BIGINT) AS x, CAST(f.y AS BIGINT) AS y,
           CAST(f.scale AS BIGINT) AS scale, CAST(f.radius AS BIGINT) AS radius,
           CAST(f.sgn AS BIGINT) AS sign,
           CAST(sum((d.k + 1) * d.v) AS BIGINT) AS desc_cks
    FROM fp f JOIN dvals d ON d.img = f.img AND d.fid = f.fid
    GROUP BY f.img, f.fid, f.x, f.y, f.scale, f.radius, f.sgn
    ORDER BY img_id, fid"""

  private def surfMatchSql: String = {
    val distTerms = (1 to 64)
      .map(k => s"(a.d[$k] - b.d[$k])*(a.d[$k] - b.d[$k])")
      .mkString(" + ")
    s"""WITH RECURSIVE ${surfDetectCtes},
    descs AS MATERIALIZED (SELECT img, fid, list(v ORDER BY k) AS d FROM dvals GROUP BY img, fid),
    n12 AS (SELECT count(*) FILTER (WHERE img = 1) AS n1,
                   count(*) FILTER (WHERE img = 2) AS n2 FROM fp),
    sw AS MATERIALIZED (SELECT n2 <= n1 AS swp, CASE WHEN n2 <= n1 THEN n2 ELSE n1 END AS len1 FROM n12),
    p1 AS MATERIALIZED (SELECT f.fid AS pid, f.x, f.y, f.sgn, d.d
          FROM fp f JOIN descs d ON d.img = f.img AND d.fid = f.fid, sw
          WHERE f.img = CASE WHEN sw.swp THEN 2 ELSE 1 END),
    p2 AS MATERIALIZED (SELECT f.fid AS pid, f.x, f.y, f.sgn, d.d
          FROM fp f JOIN descs d ON d.img = f.img AND d.fid = f.fid, sw
          WHERE f.img = CASE WHEN sw.swp THEN 1 ELSE 2 END),
    dist AS MATERIALIZED (SELECT a.pid AS i1, b.pid AS i2, sqrt($distTerms) AS dd
          FROM p1 a, p2 b WHERE a.sgn = b.sgn),
    darr AS MATERIALIZED (SELECT i1, list(i2 ORDER BY i2) AS js, list(dd ORDER BY i2) AS ds
          FROM dist GROUP BY i1),
    greedy AS (
      -- the reference's sequential scan (gdal_simplesurf.cpp:434-487)
      -- replayed one p_1 index per recursion step; the second-best is the
      -- FIRST examined distance min'd with every later distance that
      -- exceeds the running minimum of its prefix (the order-dependent
      -- update rule), computed by list lambdas over the j-ordered arrays
      SELECT -1 AS i, CAST([] AS BIGINT[]) AS used,
             CAST(NULL AS BIGINT) AS mj, CAST(NULL AS DOUBLE) AS md, false AS ok
      UNION ALL
      SELECT g.i + 1,
             CASE WHEN s.ok THEN list_append(g.used, s.bj) ELSE g.used END,
             s.bj, s.bd, s.ok
      FROM greedy g
      LEFT JOIN darr d ON d.i1 = g.i + 1,
      LATERAL (SELECT list_filter(d.js, j -> NOT list_contains(g.used, j)) AS ej,
                      list_filter(d.ds, (x, ix) -> NOT list_contains(g.used, d.js[ix])) AS ed) e,
      LATERAL (SELECT list_min(e.ed) AS bd0,
                      e.ej[list_position(e.ed, list_min(e.ed))] AS bj0,
                      least(e.ed[1],
                            list_min(list_filter(e.ed, (x, ix) -> ix > 1
                              AND list_min(e.ed[1:ix-1]) < x))) AS b2) m,
      LATERAL (SELECT m.bj0 AS bj, m.bd0 AS bd,
                      (m.b2 IS NOT NULL AND m.b2 > 0 AND m.bd0 IS NOT NULL
                       AND m.bd0 / m.b2 < 0.8) AS ok) s
      WHERE g.i + 1 < (SELECT len1 FROM sw)
    ),
    acc AS (SELECT i, mj, md FROM greedy WHERE ok),
    mx AS (SELECT max(md) AS m FROM acc),
    nrm AS (SELECT row_number() OVER (ORDER BY i) - 1 AS mi, i, mj,
                   CASE WHEN mx.m <> 0 THEN md / mx.m ELSE md END AS nd
            FROM acc, mx
            WHERE (CASE WHEN mx.m <> 0 THEN md / mx.m ELSE md END) <= $MatchThr),
    res AS (SELECT nrm.mi, nrm.nd,
                   CASE WHEN sw.swp THEN b.x ELSE a.x END AS x1,
                   CASE WHEN sw.swp THEN b.y ELSE a.y END AS y1,
                   CASE WHEN sw.swp THEN a.x ELSE b.x END AS x2,
                   CASE WHEN sw.swp THEN a.y ELSE b.y END AS y2
            FROM nrm JOIN p1 a ON a.pid = nrm.i JOIN p2 b ON b.pid = nrm.mj, sw)
    SELECT CAST(mi AS BIGINT) AS mi,
           CAST(x1*10 + 5 AS BIGINT) AS px1, CAST(y1*10 + 5 AS BIGINT) AS py1,
           CAST(x2*10 + 5 AS BIGINT) AS px2, CAST(y2*10 + 5 AS BIGINT) AS py2,
           CAST(floor(nd * 1000000000.0 + 0.5) AS BIGINT) AS nd_e9
    FROM res ORDER BY mi"""
  }

  // ------------------------------------------------------------------
  // RPC transformer gates (r55 forward, r56 inverse). Synthetic RPC00B
  // model (mildly perspective camera: dominant linear terms + small
  // second/third-order distortion) over an exact-decimal point lattice.
  // Both engines evaluate the identical IEEE expression tree (the
  // reference's even/odd strided accumulation order), so the scaled
  // BIGINT outputs agree bit-for-bit.
  // ------------------------------------------------------------------

  private val RpcM = engine.Rpc.Model(
    lineOff = 5500.0, sampOff = 6000.0,
    latOff = -27.0, longOff = 44.0, heightOff = 300.0,
    lineScale = 6000.0, sampScale = 6500.0,
    latScale = 0.4, longScale = 0.5, heightScale = 500.0,
    lineNum = Array(-0.0018, 0.0021, -1.0023, 0.0095, -0.0012, 0.0004,
      -0.0007, 0.0013, 0.0019, -0.0004, 0.00017, -0.00023, 0.00051,
      -0.00012, 0.00033, 0.00072, -0.00008, 0.00019, 0.00027, -0.00005),
    lineDen = Array(1.0, 0.00038, -0.00044, 0.00018, 0.000042, -0.000025,
      0.000033, 0.000028, -0.000019, 0.000011, 5.2e-6, 2.7e-6, -1.9e-6,
      1.1e-6, 2.1e-6, -1.3e-6, 6.0e-7, 1.5e-6, -8.0e-7, 2.5e-7),
    sampNum = Array(0.0025, 1.0012, -0.0031, 0.0124, 0.0018, -0.0006,
      0.0003, 0.0021, -0.0014, 0.0005, 0.00021, 0.00062, -0.00034,
      0.00011, 0.00042, -0.00013, 0.00007, 0.00025, -0.00012, 0.00004),
    sampDen = Array(1.0, 0.00042, -0.00031, 0.00022, 0.000051, -0.000032,
      0.000021, 0.000032, -0.000024, 0.000013, 6.1e-6, 3.2e-6, -2.3e-6,
      1.4e-6, 2.5e-6, -1.6e-6, 7.0e-7, 1.8e-6, -9.0e-7, 3.0e-7),
    minLong = 43.5, minLat = -27.4, maxLong = 44.5, maxLat = -26.6)

  /** Exact-decimal lon/lat/height lattice, identical closed form in the
    * SQL twins (81 × 65 grid, heights on a 41-step cycle). */
  private def rpcPoints(s: SparkSession): DataFrame =
    s.range(81 * 65).select(
      col("id").as("i"),
      (lit(43.6) + (col("id") % 81).cast("double") * lit(0.01)).as("lon"),
      (lit(-27.32) + expr("id div 81").cast("double") * lit(0.01)).as("lat"),
      (lit(100.0) + (col("id") % 41).cast("double") * lit(10.0)).as("hgt"))

  private val rpcPtsSql: String =
    """pts AS (SELECT range AS i,
         43.6 + CAST(range % 81 AS DOUBLE) * 0.01 AS lon,
         -27.32 + CAST(range // 81 AS DOUBLE) * 0.01 AS lat,
         100.0 + CAST(range % 41 AS DOUBLE) * 10.0 AS hgt
       FROM range(5265))"""

  /** Even/odd strided dot product as SQL, mirroring Rpc.evalCol's exact
    * association order (left-assoc even chain + left-assoc odd chain). */
  private def rpcDotSql(c: Array[Double]): String = {
    def chain(idx: Range): String =
      idx.map(i => s"t$i*(${c(i)})").mkString(" + ")
    s"((${chain(0 until 20 by 2)}) + (${chain(1 until 20 by 2)}))"
  }

  private val rpcNormTermsSql: String =
    """norm AS (SELECT i,
         (CASE WHEN (lon - 44.0) < -270 THEN (lon - 44.0) + 360
               WHEN (lon - 44.0) > 270 THEN (lon - 44.0) - 360
               ELSE (lon - 44.0) END) / 0.5 AS l,
         (lat - (-27.0)) / 0.4 AS p,
         (hgt - 300.0) / 500.0 AS h
       FROM pts),
    trm AS (SELECT i, 1.0 AS t0, l AS t1, p AS t2, h AS t3,
         l*p AS t4, l*h AS t5, p*h AS t6, l*l AS t7, p*p AS t8, h*h AS t9,
         l*p*h AS t10, l*l*l AS t11, l*p*p AS t12, l*h*h AS t13,
         l*l*p AS t14, p*p*p AS t15, p*h*h AS t16, l*l*h AS t17,
         p*p*h AS t18, h*h*h AS t19
       FROM norm)"""

  private def rpcForwardSql: String =
    s"""WITH $rpcPtsSql, $rpcNormTermsSql
    SELECT i,
      CAST(floor(((${rpcDotSql(RpcM.sampNum)}) / (${rpcDotSql(RpcM.sampDen)})
        * 6500.0 + 6000.0 + 0.5) * 1000000.0 + 0.5) AS BIGINT) AS px_e6,
      CAST(floor(((${rpcDotSql(RpcM.lineNum)}) / (${rpcDotSql(RpcM.lineDen)})
        * 6000.0 + 5500.0 + 0.5) * 1000000.0 + 0.5) AS BIGINT) AS ln_e6
    FROM trm ORDER BY i"""

  private def rpcInverseSql: String =
    s"""WITH $rpcPtsSql
    SELECT i,
      CAST(floor(lon * 1000000.0 + 0.5) AS BIGINT) AS lon_e6,
      CAST(floor(lat * 1000000.0 + 0.5) AS BIGINT) AS lat_e6
    FROM pts ORDER BY i"""

  // ------------------------------------------------------------------
  // Geolocation-array transformer gates (r57 forward, r58 inverse).
  // Synthetic swath grid: mildly sheared + curved closed-form geoloc
  // arrays with a nodata hole, exercising interior bilinear, beyond-
  // border clamping, right/bottom edge retreats, and the nodata
  // degradation chain. The r57 DuckDB twin replays PixelLineToXY's
  // decision tree relationally; r58 is the forward→inverse round trip
  // whose oracle derives expected pixel/line directly from the input
  // lattice (the max-accuracy inverse is exact inside a containing quad).
  // ------------------------------------------------------------------

  private val GlW = 33; private val GlH = 25
  private val GlNd = -999.0
  private def glGx(i: Int, j: Int): Double =
    if (j == 10 && (i == 20 || i == 21)) GlNd
    else 500.0 + i * 2.0 + j * 0.35 + (i * j) * 0.002
  private def glGy(i: Int, j: Int): Double =
    200.0 + j * 1.8 - i * 0.25 + (i * i) * 0.001

  private lazy val GlGrid = engine.GeoLocGrid(GlW, GlH,
    Array.tabulate(GlW * GlH)(k => glGx(k % GlW, k / GlW)),
    Array.tabulate(GlW * GlH)(k => glGy(k % GlW, k / GlW)),
    pixelOffset = 0.5, pixelStep = 2.0, lineOffset = 1.5, lineStep = 2.0,
    noDataX = Some(GlNd))

  private def glGxSql(iE: String, jE: String): String =
    s"""(CASE WHEN ($jE) = 10 AND (($iE) = 20 OR ($iE) = 21) THEN -999.0
        ELSE 500.0 + CAST($iE AS DOUBLE)*2.0 + CAST($jE AS DOUBLE)*0.35
             + CAST(($iE)*($jE) AS DOUBLE)*0.002 END)"""
  private def glGySql(iE: String, jE: String): String =
    s"""(200.0 + CAST($jE AS DOUBLE)*1.8 - CAST($iE AS DOUBLE)*0.25
        + CAST(($iE)*($iE) AS DOUBLE)*0.001)"""

  /** PixelLineToXY as SQL for one output axis: the same decision tree
    * (nodata short-circuit, interior bilinear, edge retreat, nodata
    * degradation to one-axis linear / point) with decisions on the X
    * array and values from `vf`. */
  private def glForwardAxisSql(vf: (String, String) => String): String = {
    val nd00r = s"""${glGxSql("ix", "iy")} = -999.0"""
    val bilOk = s"""ix+1 < $GlW AND iy+1 < $GlH
      AND ${glGxSql("ix+1", "iy")} <> -999.0
      AND ${glGxSql("ix", "iy+1")} <> -999.0
      AND ${glGxSql("ix+1", "iy+1")} <> -999.0"""
    s"""CASE WHEN ${glGxSql("ix0", "iy0")} = -999.0 THEN NULL
         WHEN $nd00r THEN NULL
         WHEN $bilOk THEN
           (1.0 - (gll - CAST(iy AS DOUBLE))) * (${vf("ix", "iy")}
             + (glp - CAST(ix AS DOUBLE)) * (${vf("ix+1", "iy")} - ${vf("ix", "iy")}))
           + (gll - CAST(iy AS DOUBLE)) * (${vf("ix", "iy+1")}
             + (glp - CAST(ix AS DOUBLE)) * (${vf("ix+1", "iy+1")} - ${vf("ix", "iy+1")}))
         WHEN ix+1 < $GlW AND ${glGxSql("ix+1", "iy")} <> -999.0 THEN
           ${vf("ix", "iy")} + (glp - CAST(ix AS DOUBLE)) * (${vf("ix+1", "iy")} - ${vf("ix", "iy")})
         WHEN iy+1 < $GlH AND ${glGxSql("ix", "iy+1")} <> -999.0 THEN
           ${vf("ix", "iy")} + (gll - CAST(iy AS DOUBLE)) * (${vf("ix", "iy+1")} - ${vf("ix", "iy")})
         ELSE ${vf("ix", "iy")} END"""
  }

  private def geolocForwardSql: String = {
    val bil1 = s"""(ix0+1 < $GlW AND iy0+1 < $GlH
      AND ${glGxSql("ix0+1", "iy0")} <> -999.0
      AND ${glGxSql("ix0", "iy0+1")} <> -999.0
      AND ${glGxSql("ix0+1", "iy0+1")} <> -999.0)"""
    s"""WITH q AS (SELECT range AS k,
           -2.0 + CAST(range % 29 AS DOUBLE) * 2.5 AS px,
           -1.0 + CAST(range // 29 AS DOUBLE) * 2.0 AS py
         FROM range(${29 * 27})),
       c0 AS (SELECT k, (px - 0.5)/2.0 - 0.5 AS glp, (py - 1.5)/2.0 - 0.5 AS gll FROM q),
       c1 AS (SELECT k, glp, gll,
           CAST(trunc(least(greatest(0.0, glp), ${GlW - 1}.0)) AS INT) AS ix0,
           CAST(trunc(least(greatest(0.0, gll), ${GlH - 1}.0)) AS INT) AS iy0 FROM c0),
       c2 AS (SELECT *, $bil1 AS bil1 FROM c1),
       c3 AS (SELECT k, glp, gll, ix0, iy0,
           CASE WHEN NOT bil1 AND ix0 = ${GlW - 1} AND ix0 >= 1 AND iy0+1 < $GlH THEN ix0 - 1
                WHEN NOT bil1 AND iy0 = ${GlH - 1} AND iy0 >= 1 AND ix0+1 < $GlW THEN ix0
                WHEN NOT bil1 AND ix0 = ${GlW - 1} AND iy0 = ${GlH - 1} THEN ix0 - 1
                ELSE ix0 END AS ix,
           CASE WHEN NOT bil1 AND ix0 = ${GlW - 1} AND ix0 >= 1 AND iy0+1 < $GlH THEN iy0
                WHEN NOT bil1 AND iy0 = ${GlH - 1} AND iy0 >= 1 AND ix0+1 < $GlW THEN iy0 - 1
                WHEN NOT bil1 AND ix0 = ${GlW - 1} AND iy0 = ${GlH - 1} THEN iy0 - 1
                ELSE iy0 END AS iy
           FROM c2)
       SELECT k,
         COALESCE(CAST(floor((${glForwardAxisSql(glGxSql)}) * 10000000.0 + 0.5) AS BIGINT), -1) AS gx_e7,
         COALESCE(CAST(floor((${glForwardAxisSql(glGySql)}) * 10000000.0 + 0.5) AS BIGINT), -1) AS gy_e7
       FROM c3 ORDER BY k"""
  }

  // note the quarter-offset line lattice: a query exactly ON a horizontal
  // cell edge makes the inverse-bilinear quadratic's A term float-noise
  // around 0, and the reference's strict s1∈[0,1] root selection
  // (gdalgeoloc.cpp:987-991) can then pick the far root — a reference
  // edge quirk we mirror rather than fix, so gates avoid the measure-zero
  // degenerate set exactly as the reference's own tests do
  private def geolocInverseSql: String =
    s"""WITH q AS (SELECT range AS k,
           0.5 + CAST(range % 60 AS DOUBLE) * 0.5 AS glp,
           0.25 + CAST(range // 60 AS DOUBLE) * 0.5 AS gll
         FROM range(2760))
       SELECT k,
         CAST(floor(((glp + 0.5) * 2.0 + 0.5) * 1000000.0 + 0.5) AS BIGINT) AS px_e6,
         CAST(floor(((gll + 0.5) * 2.0 + 1.5) * 1000000.0 + 0.5) AS BIGINT) AS ln_e6
       FROM q
       WHERE NOT (glp >= 18.5 AND glp <= 22.5 AND gll >= 8.5 AND gll <= 11.5)
       ORDER BY k"""

  // closed forms shared by the r59 engine run and its DuckDB twin
  private def mpRe(x: String, y: String) =
    s"(CAST((($x)*13 + ($y)*7) % 21 AS DOUBLE) - 10.0)"
  private def mpIm(x: String, y: String) =
    s"(CAST((($x)*5 + ($y)*11) % 17 AS DOUBLE) - 8.0)"

  /** DuckDB twin of the AVERAGE_MAGPHASE 2×2 reduction: per parent pixel it
    * evaluates the identical IEEE expression tree (integer-exact block sums,
    * correctly-rounded sqrt, FLOAT casts at the averaged components, a
    * FLOAT×FLOAT ratio multiply), then the reference checksum + a 2^20
    * fixed-point sum per band. */
  private def magphaseSql: String = {
    val pr = "([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 256 + cx) % 11 AS INT) + 1]"
    s"""
      WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
          FROM (SELECT unnest(generate_series(0, 255)) AS gx) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS gy) ys),
      raw AS (SELECT gx, gy,
          ${mpRe("2*gx", "2*gy")} AS r00, ${mpRe("2*gx+1", "2*gy")} AS r10,
          ${mpRe("2*gx", "2*gy+1")} AS r01, ${mpRe("2*gx+1", "2*gy+1")} AS r11,
          ${mpIm("2*gx", "2*gy")} AS i00, ${mpIm("2*gx+1", "2*gy")} AS i10,
          ${mpIm("2*gx", "2*gy+1")} AS i01, ${mpIm("2*gx+1", "2*gy+1")} AS i11
        FROM px),
      v AS (SELECT gx, gy,
          CAST((r00 + r10 + r01 + r11) / 4 AS FLOAT) AS nr,
          CAST((i00 + i10 + i01 + i11) / 4 AS FLOAT) AS ni,
          (sqrt(r00*r00 + i00*i00) + sqrt(r10*r10 + i10*i10)
            + sqrt(r01*r01 + i01*i01) + sqrt(r11*r11 + i11*i11)) / 4 AS desired
        FROM raw),
      w AS (SELECT gx, gy, nr, ni,
          CASE WHEN m <> 0.0 THEN desired / m ELSE 1.0 END AS ratio
        FROM (SELECT v.*, sqrt(CAST(nr AS DOUBLE)*CAST(nr AS DOUBLE)
            + CAST(ni AS DOUBLE)*CAST(ni AS DOUBLE)) AS m FROM v)),
      o AS (SELECT gx AS cx, gy AS cy,
          CAST(nr * CAST(ratio AS FLOAT) AS DOUBLE) AS ore,
          CAST(ni * CAST(ratio AS FLOAT) AS DOUBLE) AS oim
        FROM w),
      b AS (
        SELECT 1 AS band, cx, cy,
          CAST(floor(ore + 0.5) AS BIGINT) AS iv,
          CAST(floor(ore * 1048576.0 + 0.5) AS BIGINT) AS uv FROM o
        UNION ALL
        SELECT 2, cx, cy,
          CAST(floor(oim + 0.5) AS BIGINT),
          CAST(floor(oim * 1048576.0 + 0.5) AS BIGINT) FROM o
      )
      SELECT CAST(0 AS BIGINT) AS z, CAST(0 AS BIGINT) AS x, CAST(0 AS BIGINT) AS y,
        CAST(band AS BIGINT) AS band,
        CAST(((sum(iv % $pr) % 65536) + 65536) % 65536 AS BIGINT) AS cks,
        CAST(sum(uv) AS BIGINT) AS sum_u
      FROM b GROUP BY band ORDER BY band"""
  }

  /** DuckDB twin of the r60 approx-transformer run: the subdivision
    * recursion replayed as a recursive CTE — every node's anchors are pure
    * base-transform evaluations at (lo, lo+(n−1)/2, hi), so the error
    * check, the ≤5-point exact fallback, and the interpolation leaves are
    * all closed-form and bit-identical. */
  private def approxSql: String = {
    val N = 512; val tol = "0.05"
    def bx(i: String) = s"(CAST($i AS DOUBLE) + 40.0*sin(CAST($i AS DOUBLE)/64.0))"
    def byr(i: String, r: String) = s"((20.0 + CAST($r AS DOUBLE)) + CAST($i AS DOUBLE)*CAST($i AS DOUBLE)/4096.0)"
    def by(i: String) = byr(i, "nd.r")
    def byl(i: String) = byr(i, "l.r")
    s"""
    WITH RECURSIVE nd(r, lo, hi, typ) AS (
      SELECT CAST(range AS BIGINT), 0, ${N - 1}, 'p' FROM range(16)
      UNION ALL
      SELECT nd.r, c.clo, c.chi, c.ctyp
      FROM nd,
      LATERAL (SELECT nd.hi - nd.lo + 1 AS n, (nd.hi - nd.lo) // 2 AS nM) p,
      LATERAL (SELECT nd.lo + p.nM AS mid) m,
      LATERAL (SELECT (${bx("nd.hi")} - ${bx("nd.lo")}) / (CAST(nd.hi AS DOUBLE) - CAST(nd.lo AS DOUBLE)) AS dX,
                      (${by("nd.hi")} - ${by("nd.lo")}) / (CAST(nd.hi AS DOUBLE) - CAST(nd.lo AS DOUBLE)) AS dY) dd,
      LATERAL (SELECT abs(${bx("nd.lo")} + dd.dX * (CAST(m.mid AS DOUBLE) - CAST(nd.lo AS DOUBLE)) - ${bx("m.mid")})
                    + abs(${by("nd.lo")} + dd.dY * (CAST(m.mid AS DOUBLE) - CAST(nd.lo AS DOUBLE)) - ${by("m.mid")}) AS err) e,
      (VALUES (0), (1)) s(k),
      LATERAL (SELECT
         CASE WHEN e.err <= $tol THEN (CASE WHEN s.k = 0 THEN nd.lo END)
              WHEN s.k = 0 THEN nd.lo ELSE m.mid END AS clo,
         CASE WHEN e.err <= $tol THEN (CASE WHEN s.k = 0 THEN nd.hi END)
              WHEN s.k = 0 THEN m.mid - 1 ELSE nd.hi END AS chi,
         CASE WHEN e.err <= $tol THEN 'i'
              WHEN s.k = 0 THEN (CASE WHEN p.nM <= 5 THEN 'e' ELSE 'p' END)
              ELSE (CASE WHEN p.n - p.nM <= 5 THEN 'e' ELSE 'p' END) END AS ctyp) c
      WHERE nd.typ = 'p' AND c.clo IS NOT NULL
    ),
    leaves AS (SELECT r, lo, hi, typ FROM nd WHERE typ IN ('i', 'e')),
    px AS (SELECT unnest(generate_series(0, ${N - 1})) AS i),
    vals AS (
      SELECT l.r AS r, px.i,
        CASE WHEN l.typ = 'e' THEN ${bx("px.i")}
             ELSE ${bx("l.lo")} + ((${bx("l.hi")} - ${bx("l.lo")}) / (CAST(l.hi AS DOUBLE) - CAST(l.lo AS DOUBLE))) * (CAST(px.i AS DOUBLE) - CAST(l.lo AS DOUBLE)) END AS X,
        CASE WHEN l.typ = 'e' THEN ${byl("px.i")}
             ELSE ${byl("l.lo")} + ((${byl("l.hi")} - ${byl("l.lo")}) / (CAST(l.hi AS DOUBLE) - CAST(l.lo AS DOUBLE))) * (CAST(px.i AS DOUBLE) - CAST(l.lo AS DOUBLE)) END AS Y
      FROM px JOIN leaves l ON px.i BETWEEN l.lo AND l.hi
    )
    SELECT r, CAST(i AS BIGINT) AS i,
      CAST(floor(X*1000000.0 + 0.5) AS BIGINT) AS xu,
      CAST(floor(Y*1000000.0 + 0.5) AS BIGINT) AS yu
    FROM vals ORDER BY r, i"""
  }

  val defs7: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // -- Geolocation-array forward transform (r57): raster pixel/line →
    // geoX/geoY by bilinear interpolation in the geoloc arrays with the
    // reference's clamping/edge-retreat/nodata semantics
    // (alg/gdalgeoloc.cpp PixelLineToXY). Map-only broadcast-grid UDF;
    // the twin replays the decision tree relationally, bit-for-bit.
    ("r57_geoloc_forward", (s, _) => {
      val q = s.range(29 * 27).select(col("id").as("k"),
        (lit(-2.0) + (col("id") % 29).cast("double") * lit(2.5)).as("px"),
        (lit(-1.0) + expr("id div 29").cast("double") * lit(2.0)).as("py"))
      engine.GeoLoc.forward(q, GlGrid, col("px"), col("py"))
        .select(col("k"),
          coalesce(floor(col("geo_x") * lit(10000000.0) + lit(0.5)).cast("long"),
            lit(-1L)).as("gx_e7"),
          coalesce(floor(col("geo_y") * lit(10000000.0) + lit(0.5)).cast("long"),
            lit(-1L)).as("gy_e7"))
        .orderBy("k")
    }, Some(geolocForwardSql)),

    // -- Geolocation-array inverse transform (r58): geoX/geoY →
    // pixel/line via the generated backmap (distributed oversampled
    // sweep → exact per-node inverse-bilinear → IDW + line-bridge hole
    // fill) + max-accuracy containing-quad refinement
    // (alg/gdalgeoloc.cpp GenerateBackMap + Transform dst→src). Gate:
    // forward→inverse round trip recovers the input lattice exactly at
    // micro-pixel rounding; the hole-adjacent region is excluded in both
    // engines by the same closed-form filter.
    ("r58_geoloc_inverse", (s, _) => {
      val q = s.range(2760).select(col("id").as("k"),
          (lit(0.5) + (col("id") % 60).cast("double") * lit(0.5)).as("glp"),
          (lit(0.25) + expr("id div 60").cast("double") * lit(0.5)).as("gll"))
        .filter(!(col("glp") >= 18.5 && col("glp") <= 22.5 &&
          col("gll") >= 8.5 && col("gll") <= 11.5))
        .select(col("k"),
          ((col("glp") + lit(0.5)) * lit(2.0) + lit(0.5)).as("px"),
          ((col("gll") + lit(0.5)) * lit(2.0) + lit(1.5)).as("py"))
      val fwd = engine.GeoLoc.forward(q, GlGrid, col("px"), col("py"))
        .select(col("k"), col("geo_x"), col("geo_y"))
      val bm = engine.GeoLoc.buildBackMap(s, GlGrid)
      engine.GeoLoc.inverse(fwd, GlGrid, bm, col("geo_x"), col("geo_y"))
        .select(col("k"),
          floor(col("pixel") * lit(1000000.0) + lit(0.5)).cast("long").as("px_e6"),
          floor(col("line") * lit(1000000.0) + lit(0.5)).cast("long").as("ln_e6"))
        .orderBy("k")
    }, Some(geolocInverseSql)),

    // -- RPC forward transform (r55): RPC00B rational polynomial camera
    // model, (long,lat,height) → (pixel,line) (alg/gdal_rpc.cpp
    // RPCTransformPoint). Map-only pure-Column arithmetic (whole-stage
    // codegen, no UDF); the DuckDB twin evaluates the identical
    // expression tree in the reference's even/odd accumulation order.
    ("r55_rpc_forward", (s, _) => {
      engine.Rpc.forward(rpcPoints(s), RpcM, col("lon"), col("lat"), col("hgt"))
        .select(col("i"),
          floor(col("pixel") * lit(1000000.0) + lit(0.5)).cast("long").as("px_e6"),
          floor(col("line") * lit(1000000.0) + lit(0.5)).cast("long").as("ln_e6"))
        .orderBy("i")
    }, Some(rpcForwardSql)),

    // -- RPC inverse transform (r56): iterative pixel→geodetic inversion
    // (alg/gdal_rpc.cpp RPCInverseTransformPoint — affine init from the
    // finite-difference reference-point geotransform, Newton-style
    // updates). Gate shape: forward → inverse round trip at a 1e-9 px
    // threshold recovers the exact-decimal input lattice; the oracle
    // derives the expected micro-degrees directly from the inputs.
    ("r56_rpc_inverse", (s, _) => {
      val fwd = engine.Rpc.forward(rpcPoints(s), RpcM,
          col("lon"), col("lat"), col("hgt"))
        .select(col("i"), col("pixel"), col("line"), col("hgt"))
      engine.Rpc.inverse(fwd, RpcM, col("pixel"), col("line"), col("hgt"),
          pixErrThreshold = 1e-9, maxIterations = 40)
        .select(col("i"),
          floor(col("lon") * lit(1000000.0) + lit(0.5)).cast("long").as("lon_e6"),
          floor(col("lat") * lit(1000000.0) + lit(0.5)).cast("long").as("lat_e6"))
        .orderBy("i")
    }, Some(rpcInverseSql)),

    // -- SURF feature detection (r53): GDALSimpleSURF fast-Hessian octave
    // map + 64-component Haar descriptor (alg/gdal_simplesurf.cpp,
    // alg/gdal_octave.cpp), octaves 1-2. Map-only per image; the DuckDB
    // twin recomputes the whole pipeline relationally (prefix-sum integral
    // image, corner joins, neighbor-join extremum test) and agrees exactly
    // because all sums are integer-exact.
    ("r53_surf_points", (s, _) => {
      engine.Surf.detectPoints(surfImages(s), 1, 2, SurfThr)
        .select(col("img_id").cast("long"), col("fid").cast("long").as("fid"),
          col("x").cast("long").as("x"), col("y").cast("long").as("y"),
          col("scale").cast("long").as("scale"),
          col("radius").cast("long").as("radius"),
          col("sign").cast("long").as("sign"),
          expr("CAST(aggregate(zip_with(desc, sequence(1, 64)," +
            " (v, i) -> v * i), 0D, (acc, x) -> acc + x) AS BIGINT)")
            .as("desc_cks"))
        .orderBy("img_id", "fid")
    }, Some(surfPointsSql)),

    // -- SURF matching → GCPs (r54): GDALComputeMatchingPoints
    // (alg/gdalmatching.cpp) over the translated image pair — greedy
    // nearest-descriptor matching with the reference's order-dependent
    // second-best scan, ratio pruning, max-normalization, 0.015 threshold,
    // half-pixel GCP centres. The DuckDB twin replays the greedy scan with
    // a recursive CTE carrying the already-matched set.
    ("r54_surf_match", (s, _) => {
      import s.implicits._
      val pairs = s.createDataset(Seq((1L, 2L))).toDF("id1", "id2")
      engine.Surf.matchImagePairs(surfImages(s), pairs, 1, 2, SurfThr, MatchThr)
        .select(col("mi").cast("long").as("mi"),
          (col("pixel") * 10).cast("long").as("px1"),
          (col("line") * 10).cast("long").as("py1"),
          (col("gcp_x") * 10).cast("long").as("px2"),
          (col("gcp_y") * 10).cast("long").as("py2"),
          floor(col("ndist") * lit(1.0e9) + lit(0.5)).cast("long").as("nd_e9"))
        .orderBy("mi")
    }, Some(surfMatchSql)),

    // -- Curve-exact (non-linearized) measures (g56): arc length |Δα|·R and
    // curve-polygon area straight off the CIRCULARSTRING control points —
    // full-circle π·R², convex control-polygon + circular-segment shortcut,
    // linearize fallback (ogrcircularstring.cpp:195,874; ogrcompoundcurve.cpp:864;
    // ogrgeometryfactory.cpp:5809). Power-of-two radii keep every step of
    // GetCurveParameters' scale-normalized arithmetic exact in IEEE doubles,
    // so the closed-form DuckDB twin (mirrored op-for-op) agrees bit-for-bit.
    ("g56_curve_exact", (s, dir) => {
      prep(s)
      def u(c: String) = expr(s"CAST(floor(($c) * 1000000.0 + 0.5) AS BIGINT)")
      t(s, dir, "documents").where(col("doc_id") < 6000)
        .withColumn("r", expr(
          "CASE WHEN doc_id % 3 = 0 THEN 1.0D WHEN doc_id % 3 = 1 THEN 2.0D ELSE 4.0D END"))
        .withColumn("rs", expr("CAST(r AS STRING)"))
        .withColumn("nrs", expr("CAST(-r AS STRING)"))
        .withColumn("r2s", expr("CAST(2*r AS STRING)"))
        .withColumn("nr2s", expr("CAST(-(2*r) AS STRING)"))
        .withColumn("r3s", expr("CAST(3*r AS STRING)"))
        .select(col("doc_id"),
          u("st_curve_length(concat('CIRCULARSTRING (', nrs, ' 0, 0 ', rs, ', ', rs, ' 0)'))")
            .as("len_semi_u"),
          u("st_curve_length(concat('CIRCULARSTRING (', nrs, ' 0, ', rs, ' 0, ', nrs, ' 0)'))")
            .as("len_circ_u"),
          u("st_curve_area(concat('CIRCULARSTRING (', nrs, ' 0, ', rs, ' 0, ', nrs, ' 0)'))")
            .as("area_circ_u"),
          u("st_curve_area(concat('CURVEPOLYGON (COMPOUNDCURVE (CIRCULARSTRING (', nrs, " +
            "' 0, 0 ', rs, ', ', rs, ' 0), (', rs, ' 0, ', nrs, ' 0)))'))")
            .as("area_half_u"),
          u("st_curve_area(concat('CURVEPOLYGON (CIRCULARSTRING (', nr2s, ' 0, ', r2s, " +
            "' 0, ', nr2s, ' 0), CIRCULARSTRING (', nrs, ' 0, ', rs, ' 0, ', nrs, ' 0))'))")
            .as("area_hole_u"),
          u("st_curve_length(concat('MULTICURVE (CIRCULARSTRING (', nrs, ' 0, 0 ', rs, " +
            "', ', rs, ' 0), (', rs, ' 0, ', rs, ' ', r3s, '))'))")
            .as("len_multi_u"))
        .orderBy("doc_id")
    }, Some("""
      WITH b AS (SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN 1.0 WHEN doc_id % 3 = 1 THEN 2.0 ELSE 4.0 END AS r
        FROM documents WHERE doc_id < 6000)
      SELECT doc_id,
        CAST(floor((pi() * r) * 1000000.0 + 0.5) AS BIGINT) AS len_semi_u,
        CAST(floor((2 * pi() * r) * 1000000.0 + 0.5) AS BIGINT) AS len_circ_u,
        CAST(floor((pi() * (r * r)) * 1000000.0 + 0.5) AS BIGINT) AS area_circ_u,
        CAST(floor((r * r + 0.5 * r * r * abs((pi()/2 - pi()) - sin(pi()/2 - pi())
          + (0 - pi()/2) - sin(0 - pi()/2))) * 1000000.0 + 0.5) AS BIGINT) AS area_half_u,
        CAST(floor((pi() * ((2*r) * (2*r)) - pi() * (r * r)) * 1000000.0 + 0.5) AS BIGINT) AS area_hole_u,
        CAST(floor((pi() * r + 3 * r) * 1000000.0 + 0.5) AS BIGINT) AS len_multi_u
      FROM b ORDER BY doc_id""")),

    // -- Winnowing document fingerprints (d10): rightmost-minimal 5-gram
    // hash per 8-gram window (Schleimer–Wilkerson–Aiken SIGMOD 2003), the
    // position-robust fingerprint family next to MinHash (d04) / SimHash
    // (d06). Map-only single-pass kernel; the DuckDB twin replays the
    // window argmax relationally (all hash arithmetic integer-exact).
    // Gate shape: per-doc fingerprint count + packed (pos·2^32+h) sum.
    ("d10_winnow_fp", (s, dir) => {
      prep(s)
      t(s, dir, "documents")
        .withColumn("fps", expr("text_winnow(text, 5, 8)"))
        .select(col("doc_id"),
          expr("CAST(size(fps) AS BIGINT)").as("fp_cnt"),
          expr("aggregate(fps, CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("fp_sum"))
        .orderBy("doc_id")
    }, Some("""
      WITH g AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
          CAST(((((ascii(substr(text, pos+1, 1)) * 31 + ascii(substr(text, pos+2, 1))) * 31
            + ascii(substr(text, pos+3, 1))) * 31 + ascii(substr(text, pos+4, 1))) * 31
            + ascii(substr(text, pos+5, 1))) AS BIGINT) AS h
        FROM (SELECT doc_id, text, unnest(generate_series(0, length(text) - 5)) AS pos
              FROM documents)
      ),
      n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
      wm AS (
        SELECT e.doc_id, e.pos AS we, g2.pos AS pos, g2.h AS h
        FROM g e
        JOIN n ON n.doc_id = e.doc_id
        JOIN g g2 ON g2.doc_id = e.doc_id
          AND g2.pos BETWEEN e.pos - least(8, n.ng) + 1 AND e.pos
        WHERE e.pos >= least(8, n.ng) - 1
      ),
      mn AS (SELECT doc_id, we, min(h) AS mh FROM wm GROUP BY 1, 2),
      sel AS (
        SELECT wm.doc_id, max(wm.pos) AS pos, mn.mh AS h
        FROM wm JOIN mn ON wm.doc_id = mn.doc_id AND wm.we = mn.we AND wm.h = mn.mh
        GROUP BY wm.doc_id, mn.we, mn.mh
      ),
      fp AS (SELECT DISTINCT doc_id, pos, h FROM sel)
      SELECT d.doc_id,
        CAST(coalesce(f.c, 0) AS BIGINT) AS fp_cnt,
        CAST(coalesce(f.s, 0) AS BIGINT) AS fp_sum
      FROM documents d LEFT JOIN (
        SELECT doc_id, count(*) AS c, sum(pos * 4294967296 + h) AS s FROM fp GROUP BY 1
      ) f ON f.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    // -- AVERAGE_MAGPHASE complex overview (r59): the complex-data pyramid
    // kernel (gcore/overview.cpp:4527-4580) — componentwise mean rescaled
    // to the mean magnitude, CFloat32 store semantics mirrored. One
    // (re,im)-pair shuffle for the level; the twin replays the per-pixel
    // IEEE expression tree and agrees on checksum + 2^20 fixed-point sums.
    ("r59_magphase_overview", (s, _) => {
      val sp = s
      import sp.implicits._
      val re = engine.Raster.syntheticTiles(s, 1, band = 1) { (gx, gy) =>
        ((gx * 13 + gy * 7) % 21).toDouble - 10.0 }
      val im = engine.Raster.syntheticTiles(s, 1, band = 2) { (gx, gy) =>
        ((gx * 5 + gy * 11) % 17).toDouble - 8.0 }
      engine.Raster.pyramidUpMagphase(re.unionByName(im), 1, 2)
        .map { ti =>
          var su = 0L
          var i = 0
          while (i < ti.pixels.length) {
            su += math.floor(ti.pixels(i) * 1048576.0 + 0.5).toLong; i += 1
          }
          (ti.z.toLong, ti.x.toLong, ti.y.toLong, ti.band.toLong,
            engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong, su)
        }
        .toDF("z", "x", "y", "band", "cks", "sum_u")
        .orderBy("band")
    }, Some(magphaseSql)),

    // -- Stream-static PIP enrichment (s04): the flagship spatial join with
    // a streaming point side — stateless append-mode micro-batches over the
    // same BroadcastPipJoinExec plan as the batch join, across a checkpoint
    // restart (re-enrichment on restart would duplicate rows and fail the
    // compare). Twin: the batch g03 oracle.
    ("s04_stream_pip", (s, dir) => {
      streaming.StreamJobs.streamPipJoin(s, s"$dir/events.parquet",
        "/tmp/graft_s04_work", Queries.fixturePolyDf(s), z = 3,
        lonOf("event_id"), latOf("event_id"))
    }, Some {
      val arms = polygons.map { case (id, _, _) =>
        s"SELECT event_id, '$id' AS poly_id FROM pts WHERE ${insidePolySql(id, "lon", "lat")}"
      }
      s"""WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
            ${latOf("event_id")} AS lat FROM events)
          ${arms.mkString(" UNION ALL ")} ORDER BY event_id, poly_id"""
    }),

    // -- Linear referencing (g57): ogrlineref's station/interpolate/subline
    // family (apps/ogrlineref.cpp; Project → GEOS LengthIndexedLine,
    // Value/getSubLine ogrlinestring.cpp:2119,2237) over 20 integer
    // staircase routes: station + squared offset of each query point
    // (first-strict-min segment scan), the point at a fractional station,
    // and the subline vertex count (2 + interior vertices, the reference
    // walk's closed form for fractional bounds). The twin replays the
    // segment argmin and interpolation with identical IEEE ops.
    ("g57_lineref", (s, dir) => {
      import s.implicits._
      val lines = (0 until 20).map { l =>
        val buf = scala.collection.mutable.ArrayBuffer(0.0, 0.0)
        var x = 0.0; var y = 0.0
        for (k <- 0 until 12) {
          val sl = ((l * 7 + k * 3) % 5) + 1
          if (k % 2 == 0) x += sl else y += sl
          buf += x; buf += y
        }
        (l.toLong, buf.toSeq)
      }.toDF("line_id", "coords")
      val pts = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 20).as("line_id"),
        expr("CAST((doc_id*37) % 400 AS DOUBLE) / 16.0").as("px"),
        expr("CAST((doc_id*59) % 320 AS DOUBLE) / 16.0").as("py"),
        expr("CAST(doc_id % 40 AS DOUBLE) / 8.0 + 0.0625").as("a"),
        expr("CAST(doc_id % 40 AS DOUBLE) / 8.0 + 0.0625 + CAST(doc_id % 48 AS DOUBLE) / 8.0 + 0.25").as("b"))
      val f = udf { (coords: Seq[Double], px: Double, py: Double, a: Double, b: Double) =>
        val c = coords.toArray
        val (st, d2) = engine.LinearRef.project(c, px, py)
        val (vx, vy) = engine.LinearRef.value(c, a)
        val subN = engine.LinearRef.subLine(c, a, b).map(_.length / 2).getOrElse(-1)
        Array(st, d2, vx, vy, subN.toDouble)
      }
      pts.join(broadcast(lines), "line_id")
        .withColumn("r", f(col("coords"), col("px"), col("py"), col("a"), col("b")))
        .select(col("doc_id"),
          expr("CAST(floor(r[0] * 1000000.0 + 0.5) AS BIGINT)").as("station_u"),
          expr("CAST(floor(r[1] * 1000000.0 + 0.5) AS BIGINT)").as("d2_u"),
          expr("CAST(floor(r[2] * 1000000.0 + 0.5) AS BIGINT)").as("vx_u"),
          expr("CAST(floor(r[3] * 1000000.0 + 0.5) AS BIGINT)").as("vy_u"),
          expr("CAST(r[4] AS BIGINT)").as("sub_n"))
        .orderBy("doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id, doc_id % 20 AS l,
          CAST((doc_id*37) % 400 AS DOUBLE)/16.0 AS px,
          CAST((doc_id*59) % 320 AS DOUBLE)/16.0 AS py,
          CAST(doc_id % 40 AS DOUBLE)/8.0 + 0.0625 AS a,
          CAST(doc_id % 40 AS DOUBLE)/8.0 + 0.0625 + CAST(doc_id % 48 AS DOUBLE)/8.0 + 0.25 AS b
        FROM documents),
      seg0 AS (SELECT ls.l AS l, ks.k AS k,
          CAST(((ls.l*7 + ks.k*3) % 5) + 1 AS BIGINT) AS sl
        FROM (SELECT unnest(generate_series(0, 19)) AS l) ls
        CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS k) ks),
      seg AS (SELECT l, k, sl,
          CAST(coalesce(sum(CASE WHEN k % 2 = 0 THEN sl END) OVER
            (PARTITION BY l ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS x1,
          CAST(coalesce(sum(CASE WHEN k % 2 = 1 THEN sl END) OVER
            (PARTITION BY l ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS y1,
          CAST(coalesce(sum(sl) OVER
            (PARTITION BY l ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS cum
        FROM seg0),
      sg AS (SELECT l, k, cum, CAST(sl AS DOUBLE) AS sl, x1, y1,
          CASE WHEN k % 2 = 0 THEN CAST(sl AS DOUBLE) ELSE 0.0 END AS dx,
          CASE WHEN k % 2 = 1 THEN CAST(sl AS DOUBLE) ELSE 0.0 END AS dy
        FROM seg),
      pr AS (SELECT d.doc_id, sg.k,
          sg.cum + r * sg.sl AS station,
          (d.px - (sg.x1 + r * sg.dx)) * (d.px - (sg.x1 + r * sg.dx))
            + (d.py - (sg.y1 + r * sg.dy)) * (d.py - (sg.y1 + r * sg.dy)) AS d2
        FROM d JOIN sg ON sg.l = d.l,
        LATERAL (SELECT CASE WHEN rr < 0.0 THEN 0.0 WHEN rr > 1.0 THEN 1.0 ELSE rr END AS r
          FROM (SELECT ((d.px - sg.x1) * sg.dx + (d.py - sg.y1) * sg.dy)
                  / (sg.dx * sg.dx + sg.dy * sg.dy) AS rr) t)),
      best AS (SELECT doc_id, station, d2 FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY d2, k) AS rn FROM pr)
        WHERE rn = 1),
      vv AS (SELECT d.doc_id,
          sg.x1 * (1 - (d.a - sg.cum) / sg.sl) + (sg.x1 + sg.dx) * ((d.a - sg.cum) / sg.sl) AS vx,
          sg.y1 * (1 - (d.a - sg.cum) / sg.sl) + (sg.y1 + sg.dy) * ((d.a - sg.cum) / sg.sl) AS vy
        FROM d JOIN sg ON sg.l = d.l AND sg.cum <= d.a AND sg.cum + sg.sl >= d.a),
      sn AS (SELECT d.doc_id, 2 + count(*) FILTER (WHERE sg.cum > d.a AND sg.cum < d.b) AS sub_n
        FROM d JOIN sg ON sg.l = d.l GROUP BY d.doc_id)
      SELECT d.doc_id,
        CAST(floor(best.station * 1000000.0 + 0.5) AS BIGINT) AS station_u,
        CAST(floor(best.d2 * 1000000.0 + 0.5) AS BIGINT) AS d2_u,
        CAST(floor(vv.vx * 1000000.0 + 0.5) AS BIGINT) AS vx_u,
        CAST(floor(vv.vy * 1000000.0 + 0.5) AS BIGINT) AS vy_u,
        CAST(sn.sub_n AS BIGINT) AS sub_n
      FROM d JOIN best ON best.doc_id = d.doc_id
      JOIN vv ON vv.doc_id = d.doc_id
      JOIN sn ON sn.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    // -- Antimeridian wrapping (g58): WRAPDATELINE=YES over dateline-
    // crossing lines and polygons (ogrgeometryfactory.cpp:4430-4620).
    // Lines: the big-gap heuristic decides split-vs-keep (the 350°
    // threshold at DATELINEOFFSET=10), crossing segments interpolate a
    // ±180 vertex pair — the twin replays the decision and the crossing
    // arithmetic. Polygons: unwrap (+360) then Martinez–Rueda clip against
    // the two world rectangles — pinned by piece count + exact areas.
    ("g58_wrapdateline", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = t(s, dir, "documents").select(col("doc_id"),
        expr("CAST(171 + doc_id % 8 AS DOUBLE)").as("lx1"),
        expr("CAST(doc_id % 7 - 3 AS DOUBLE)").as("ly1"),
        expr("CAST(-179 + doc_id % 6 AS DOUBLE)").as("lx2"),
        expr("CAST(doc_id % 5 - 2 AS DOUBLE)").as("ly2"),
        expr("CAST(176 + doc_id % 3 AS DOUBLE)").as("px1"),
        expr("CAST(-178 + doc_id % 3 AS DOUBLE)").as("px2"),
        expr("CAST(-(doc_id % 5) - 5 AS DOUBLE)").as("pymin"),
        expr("CAST(doc_id % 6 + 5 AS DOUBLE)").as("pymax"))
      val lstat = udf { (wkb: Array[Byte]) =>
        def f(v: Double): Long = math.floor(v * 1000000.0 + 0.5).toLong
        graft.geom.Wkb.read(wkb) match {
          case graft.geom.MultiLineString(ls) =>
            var cks = 0L
            for (l <- ls; i <- 0 until l.coords.length / 2)
              cks += f(l.coords(2 * i)) * 7 + f(l.coords(2 * i + 1)) * 13
            Array(ls.length.toLong, cks)
          case _ => Array(-1L, -1L)
        }
      }
      val pstat = udf { (wkb: Array[Byte]) =>
        graft.geom.Wkb.read(wkb) match {
          case graft.geom.MultiPolygon(ps) =>
            Array(ps.length.toLong,
              ps.map(p => math.floor(graft.geom.GeoOps.area(p) * 1000000.0 + 0.5).toLong).sum)
          case _ => Array(-1L, -1L)
        }
      }
      base
        .withColumn("lw", gf.st_wrapdateline(gf.st_geomfromtext(expr(
          "concat('LINESTRING (', lx1, ' ', ly1, ', ', lx2, ' ', ly2, ')')")), lit(10.0)))
        .withColumn("pw", gf.st_wrapdateline(gf.st_geomfromtext(expr(
          "concat('POLYGON ((', px1, ' ', pymin, ', ', px2, ' ', pymin, ', ', px2, ' ', " +
            "pymax, ', ', px1, ' ', pymax, ', ', px1, ' ', pymin, '))')")), lit(10.0)))
        .withColumn("ls", lstat(col("lw")))
        .withColumn("ps", pstat(col("pw")))
        .select(col("doc_id"),
          expr("ls[0]").as("ln_pieces"), expr("ls[1]").as("ln_cks"),
          expr("ps[0]").as("pg_pieces"), expr("ps[1]").as("pg_area_u"))
        .orderBy("doc_id")
    }, Some {
      def f(x: String) = s"CAST(floor(($x) * 1000000.0 + 0.5) AS BIGINT)"
      s"""
      WITH d AS (SELECT doc_id,
          CAST(171 + doc_id % 8 AS DOUBLE) AS lx1, CAST(doc_id % 7 - 3 AS DOUBLE) AS ly1,
          CAST(-179 + doc_id % 6 AS DOUBLE) AS lx2, CAST(doc_id % 5 - 2 AS DOUBLE) AS ly2,
          CAST(176 + doc_id % 3 AS DOUBLE) AS px1, CAST(-178 + doc_id % 3 AS DOUBLE) AS px2,
          CAST(-(doc_id % 5) - 5 AS DOUBLE) AS pymin, CAST(doc_id % 6 + 5 AS DOUBLE) AS pymax
        FROM documents),
      y AS (SELECT *, ratio * ly2 + (1 - ratio) * ly1 AS yc FROM (
        SELECT *, (lx1 - lx2) > 350.0 AS split,
          (180.0 - lx1) / ((lx2 + 360.0) - lx1) AS ratio FROM d))
      SELECT doc_id,
        CAST(CASE WHEN split THEN 2 ELSE 1 END AS BIGINT) AS ln_pieces,
        CAST(CASE WHEN split THEN
            ${f("lx1")}*7 + ${f("ly1")}*13 + ${f("180.0")}*7 + ${f("yc")}*13
            + ${f("-180.0")}*7 + ${f("yc")}*13 + ${f("lx2")}*7 + ${f("ly2")}*13
          ELSE ${f("lx1")}*7 + ${f("ly1")}*13 + ${f("lx2")}*7 + ${f("ly2")}*13
          END AS BIGINT) AS ln_cks,
        CAST(2 AS BIGINT) AS pg_pieces,
        CAST(${f("(180.0 - px1) * (pymax - pymin)")}
          + ${f("((px2 + 360.0) - 180.0) * (pymax - pymin)")} AS BIGINT) AS pg_area_u
      FROM y ORDER BY doc_id"""
    }),

    // -- Error-bounded approximate transformer (r60): GDALApproxTransform's
    // scanline subdivision (gdaltransformer.cpp:4375, internal :4080) over
    // a nonlinear base transform — middle-error check, recursive halving,
    // ≤5-point exact fallback, interpolation leaves overwriting the ends.
    // 16 independent scanlines run as a distributed map; the twin replays
    // the recursion as a recursive CTE (all anchors are closed-form base
    // evaluations), bit-for-bit.
    ("r60_approx_transform", (s, _) => {
      val sp = s
      import sp.implicits._
      s.range(16).as[Long].flatMap { r =>
        val y = 20.0 + r
        val xs = Array.tabulate(512)(_.toDouble)
        val ys = Array.fill(512)(y)
        val base = (x: Double, yy: Double) =>
          (x + 40.0 * math.sin(x / 64.0), yy + x * x / 4096.0)
        val (ox, oy) = engine.ApproxTransform.transformRow(base, 0.05, xs, ys)
        (0 until 512).map { i =>
          (r, i.toLong,
            math.floor(ox(i) * 1000000.0 + 0.5).toLong,
            math.floor(oy(i) * 1000000.0 + 0.5).toLong)
        }
      }.toDF("r", "i", "xu", "yu").orderBy("r", "i")
    }, Some(approxSql)),

    // -- Multidimensional mosaic (m07): gdal mdim mosaic
    // (apps/gdalalg_mdim_mosaic.cpp) — four blocks placed at resolved
    // offsets into a 16×20 output on a NON-aligned (5,7) chunk grid, with
    // two overlap regions (later input wins) and an uncovered strip
    // (fill). The twin is the per-cell placement decision tree.
    ("m07_mdim_mosaic", (s, _) => {
      prep(s)
      def block(k: Int, h: Long, w: Long) =
        engine.MdArray.create(s, Array(h, w), Array(3, 5))(c =>
          (k * 1000 + c(0) * 31 + c(1)).toDouble)
      val out = engine.MdArray.mosaic(s, Seq(
          (block(1, 8, 12), Array(0L, 0L)),
          (block(2, 8, 10), Array(0L, 10L)),
          (block(3, 6, 20), Array(8L, 0L)),
          (block(4, 4, 6), Array(10L, 12L))),
        shape = Array(16L, 20L), chunk = Array(5, 7), fill = -1.0)
      out.toTable.select(col("d0").as("i"), col("d1").as("j"),
          col("v").cast("long").as("v"))
        .orderBy("i", "j")
    }, Some("""
      WITH px AS (SELECT xs.i AS i, ys.j AS j
          FROM (SELECT unnest(generate_series(0, 15)) AS i) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS j) ys)
      SELECT i, j, CAST(
        CASE WHEN i BETWEEN 10 AND 13 AND j BETWEEN 12 AND 17
               THEN 4000 + (i-10)*31 + (j-12)
             WHEN i BETWEEN 8 AND 13 THEN 3000 + (i-8)*31 + j
             WHEN i < 8 AND j >= 10 THEN 2000 + i*31 + (j-10)
             WHEN i < 8 THEN 1000 + i*31 + j
             ELSE -1 END AS BIGINT) AS v
      FROM px ORDER BY i, j""")),

    // -- Partial overview refresh (r61): gdal raster overview refresh
    // (PartialRefresh, apps/gdalalg_raster_overview_refresh.cpp) — a
    // localized base update dirties 4 of 16 z2 tiles; z1 recomputes only
    // the 2 affected parents, z0 its 1, everything else is reused from
    // the stale pyramid. Gate output: the refreshed z1+z0 checksums; the
    // twin computes the updated pyramid closed-form (all values exact
    // dyadic rationals, so grouped sums replay the box filter).
    ("r61_overview_refresh", (s, _) => {
      val sp = s
      import sp.implicits._
      def f(gx: Long, gy: Long): Double = ((gx * 7919 + gy * 104729) % 9973).toDouble
      def dirtyTile(gx: Long, gy: Long): Boolean = {
        val tx = gx >> 8; val ty = gy >> 8
        tx >= 2 && tx <= 3 && ty >= 1 && ty <= 2
      }
      val oldBase = engine.Raster.syntheticTiles(s, 2)(f)
      val newBase = engine.Raster.syntheticTiles(s, 2) { (gx, gy) =>
        if (dirtyTile(gx, gy)) f(gx, gy) + ((gx + gy) % 11).toDouble else f(gx, gy)
      }
      val oldZ1 = engine.Raster.pyramidUp(oldBase)
      val oldZ0 = engine.Raster.pyramidUp(oldZ1)
      val dirty0 = Seq((2, 1), (2, 2), (3, 1), (3, 2)).toDF("dx", "dy")
      val (newZ1, dirty1) = engine.Raster.refreshLevelUp(oldZ1, newBase, dirty0)
      val (newZ0, _) = engine.Raster.refreshLevelUp(oldZ0, newZ1, dirty1)
      newZ1.unionByName(newZ0)
        .map(ti => (ti.z.toLong, ti.x.toLong, ti.y.toLong,
          engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong))
        .toDF("z", "x", "y", "cks")
        .orderBy("z", "x", "y")
    }, Some {
      val pr = "([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 256 + cx) % 11 AS INT) + 1]"
      s"""
      WITH p0 AS (SELECT xs.gx AS gx, ys.gy AS gy
          FROM (SELECT unnest(generate_series(0, 1023)) AS gx) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 1023)) AS gy) ys),
      v0 AS (SELECT gx, gy,
          CAST((gx * 7919 + gy * 104729) % 9973 AS DOUBLE)
          + CASE WHEN (gx >> 8) BETWEEN 2 AND 3 AND (gy >> 8) BETWEEN 1 AND 2
                 THEN CAST((gx + gy) % 11 AS DOUBLE) ELSE 0.0 END AS v
        FROM p0),
      v1 AS (SELECT gx // 2 AS gx, gy // 2 AS gy, sum(v) / 4 AS v
        FROM v0 GROUP BY 1, 2),
      v2 AS (SELECT gx // 2 AS gx, gy // 2 AS gy, sum(v) / 4 AS v
        FROM v1 GROUP BY 1, 2),
      b AS (
        SELECT CAST(1 AS BIGINT) AS z, gx >> 8 AS x, gy >> 8 AS y,
          CAST(gx % 256 AS BIGINT) AS cx, CAST(gy % 256 AS BIGINT) AS cy,
          CAST(floor(v + 0.5) AS BIGINT) AS iv FROM v1
        UNION ALL
        SELECT CAST(0 AS BIGINT), gx >> 8, gy >> 8,
          CAST(gx % 256 AS BIGINT), CAST(gy % 256 AS BIGINT),
          CAST(floor(v + 0.5) AS BIGINT) FROM v2
      )
      SELECT z, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
        CAST(((sum(iv % $pr) % 65536) + 65536) % 65536 AS BIGINT) AS cks
      FROM b GROUP BY z, x, y ORDER BY z, x, y"""
    }),

    // -- Multimodal audio payloads (m08): REAL 16-bit PCM WAV containers
    // built, carried as opaque binary, header-validated and analyzed in
    // one pass (peak, exact sum-of-squares, zero crossings) — the audio
    // twin of the m03 image-decode path. The twin derives the same stats
    // from the closed-form sample generator.
    ("m08_audio_stats", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val n = 64 + (id % 64).toInt
        val rate = 8000 + (id % 4).toInt * 4000
        val samples = Array.tabulate(n)(t =>
          (((id * 7 + t * 13) % 4001) - 2000).toShort)
        val st = engine.Multimodal.wavStats(
          engine.Multimodal.pcmWav(samples, rate))
        (id, st.sampleRate.toLong, st.nSamples.toLong,
          st.peak.toLong, st.sumSq, st.zeroCross.toLong)
      }.toDF("doc_id", "rate", "n_samples", "peak", "sumsq", "zc")
        .orderBy("doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id, 64 + doc_id % 64 AS n,
          8000 + (doc_id % 4) * 4000 AS rate FROM documents),
      smp AS (SELECT d.doc_id, d.n, d.rate, t.t,
          ((d.doc_id * 7 + t.t * 13) % 4001) - 2000 AS s
        FROM d JOIN (SELECT unnest(generate_series(0, 127)) AS t) t ON t.t < d.n),
      w AS (SELECT doc_id, n, rate, s,
          lag(s) OVER (PARTITION BY doc_id ORDER BY t) AS ps FROM smp)
      SELECT doc_id,
        CAST(max(rate) AS BIGINT) AS rate,
        CAST(max(n) AS BIGINT) AS n_samples,
        CAST(max(abs(s)) AS BIGINT) AS peak,
        CAST(sum(s * s) AS BIGINT) AS sumsq,
        CAST(count(*) FILTER (WHERE ps IS NOT NULL
          AND ((ps < 0 AND s >= 0) OR (ps >= 0 AND s < 0))) AS BIGINT) AS zc
      FROM w GROUP BY doc_id ORDER BY doc_id""")),

    // -- Multimodal video frame sampling (m09): frames packed in an
    // indexed container, every 2nd frame reached by OFFSET ARITHMETIC
    // (unsampled frames never copied or decoded), sampled frames decoded
    // through the real ImageIO path — image (m03) / audio (m08) / video
    // (m09) complete the opaque-payload trio. Twin: closed-form luminance
    // histogram per sampled frame.
    ("m09_video_sample", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).where(col("doc_id") < 120)
        .as[Long].flatMap { id =>
          val nf = 4 + (id % 5).toInt
          val w = 16 + (id % 4).toInt; val h = 16
          val frames = (0 until nf).map { fi =>
            engine.Multimodal.grayPng(w, h) { (x, y) =>
              ((id * 31 + fi * 17 + x * 7 + y * 13) % 256).toInt
            }
          }
          val video = engine.Multimodal.packFrames(frames)
          engine.Multimodal.sampleFrames(video, 2).flatMap { case (fi, png) =>
            val feat = engine.Multimodal.decode(
              engine.Multimodal.MediaRow(id, s"v/$id#$fi", "video", png))
            feat.features.iterator.zipWithIndex.map { case (v, b) =>
              (id, fi.toLong, b.toLong,
                math.floor(v * feat.width * feat.height + 0.5).toLong)
            }.filter(_._4 > 0L)
          }
        }.toDF("doc_id", "frame", "bin", "cnt")
        .orderBy("doc_id", "frame", "bin")
    }, Some("""
      WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS nf, 16 + doc_id % 4 AS w
                 FROM documents WHERE doc_id < 120),
      fr AS (SELECT d.doc_id, d.w, f.f FROM d
             JOIN (SELECT unnest(generate_series(0, 8)) AS f) f
               ON f.f < d.nf AND f.f % 2 = 0),
      g AS (SELECT fr.doc_id, fr.f,
              ((fr.doc_id * 31 + fr.f * 17 + xs.x * 7 + ys.y * 13) % 256) // 16 AS bin
            FROM fr
            JOIN (SELECT unnest(generate_series(0, 19)) AS x) xs ON xs.x < fr.w
            CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS y) ys)
      SELECT doc_id, CAST(f AS BIGINT) AS frame, CAST(bin AS BIGINT) AS bin,
             count(*) AS cnt
      FROM g GROUP BY doc_id, f, bin ORDER BY doc_id, frame, bin""")),

    // -- GDALTransformGeolocations (r62): bulk point-transform of X/Y(/Z)
    // geolocation bands (alg/gdaltransformgeolocs.cpp:50-131). Synthetic
    // geocentric-meter bands (integer closed forms, exact in IEEE) pushed
    // through a 7-parameter Helmert (EPSG 9606 position-vector, the
    // TOWGS84 path of geom/Datum.scala) — pure +,×, so the DuckDB twin
    // evaluating the same left-associated expressions is bit-identical.
    // Two modes per the reference's Z-band branch: "xyz" transforms and
    // writes back all three bands; "xy" feeds z = 0 (line 109 memset) and
    // writes back only X and Y (line 121 guard). Checksum per band tile.
    ("r62_transform_geolocs", (s, dir) => {
      val sp = s
      import sp.implicits._
      def fx(gx: Long, gy: Long) = (3000000 + (gx * 37 + gy * 11) % 20000).toDouble
      def fy(gx: Long, gy: Long) = (4000000 + (gx * 13 + gy * 29) % 20000).toDouble
      def fz(gx: Long, gy: Long) = (3500000 + (gx * 7 + gy * 41) % 20000).toDouble
      val xb = engine.Raster.syntheticTiles(s, 2, tileSize = 64)(fx)
      val yb = engine.Raster.syntheticTiles(s, 2, tileSize = 64)(fy)
      val zb = engine.Raster.syntheticTiles(s, 2, tileSize = 64)(fz)
      val hp = (x: Double, y: Double, z: Double) =>
        geom.Datum.helmert(x, y, z, 89.5, 93.8, 123.1, 0.03, -0.07, 0.156, -1.2)
      val runs = Seq(
        ("xyz", engine.TransformGeolocs(xb, yb, Some(zb), hp)),
        ("xy", engine.TransformGeolocs(xb, yb, None, hp)))
      runs.map { case (tag, ds) =>
        ds.map(t => (t.band.toLong, t.x.toLong, t.y.toLong,
            engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
          .toDF("band", "x", "y", "cks").withColumn("mode", lit(tag))
      }.reduce(_ unionAll _)
        .select("mode", "band", "x", "y", "cks")
        .orderBy("mode", "band", "x", "y")
    }, Some {
      val cks64 = "CAST(((sum(iv % ([7,11,13,17,19,23,29,31,37,41,43])" +
        "[CAST((cy * 64 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT)"
      """
      WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 255)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS gy) ys),
      v AS (SELECT gx, gy,
            CAST(3000000 + (gx * 37 + gy * 11) % 20000 AS DOUBLE) AS x,
            CAST(4000000 + (gx * 13 + gy * 29) % 20000 AS DOUBLE) AS y,
            CAST(3500000 + (gx * 7 + gy * 41) % 20000 AS DOUBLE) AS z
            FROM px),
      prm AS (SELECT *, 1.0 + (-1.2) * 1e-6 AS m,
            0.03 * (pi() / 648000.0) AS rx,
            (-0.07) * (pi() / 648000.0) AS ry,
            0.156 * (pi() / 648000.0) AS rz FROM v),
      o AS (
        SELECT 'xyz' AS mode, 1 AS band, gx, gy,
               89.5 + m * (x - rz * y + ry * z) AS ov FROM prm
        UNION ALL
        SELECT 'xyz', 2, gx, gy, 93.8 + m * (rz * x + y - rx * z) FROM prm
        UNION ALL
        SELECT 'xyz', 3, gx, gy, 123.1 + m * (-ry * x + rx * y + z) FROM prm
        UNION ALL
        SELECT 'xy', 1, gx, gy, 89.5 + m * (x - rz * y + ry * 0.0) FROM prm
        UNION ALL
        SELECT 'xy', 2, gx, gy, 93.8 + m * (rz * x + y - rx * 0.0) FROM prm),
      cells AS (SELECT mode, band, gx // 64 AS tx, gy // 64 AS ty,
            gx % 64 AS cx, gy % 64 AS cy,
            CAST(floor(ov + 0.5) AS BIGINT) AS iv FROM o)
      SELECT mode, CAST(band AS BIGINT) AS band, tx AS x, ty AS y,
             """ + cks64 + """ AS cks
      FROM cells GROUP BY 1, 2, 3, 4 ORDER BY mode, band, x, y"""}),

    // -- gdal mdim reproject (m10): GDALMDArray::GetResampled over the
    // last two dims of a 3-D array (gdalmultidim_array_resampled.cpp:918;
    // per-array wrapper apps/gdalalg_mdim_reproject.cpp). The "reprojection"
    // is a projective (rational) dst→src map — pure +,×,/ so the DuckDB
    // twin evaluating the same left-associated expressions is bit-exact —
    // with the forward direction (used only for chunk routing) solved as a
    // 2×2 linear system per point. near kernel; leading dim (t = 3) passes
    // through; out-of-source dst cells are NULL; the two pixel-center
    // regularly-spaced indexing variables (reference :747-757) are gated
    // alongside the array at 2^20 fixed-point.
    ("m10_mdim_reproject", (s, dir) => {
      val sp = s
      import sp.implicits._
      val src = engine.MdArray.create(s, Array(3L, 64L, 64L), Array(2, 32, 32)) {
        c => ((c(0) * 101 + c(1) * 37 + c(2) * 17) % 251).toDouble
      }
      val inv = (x: Double, y: Double) => {
        val den = 1.0 + 1.2e-4 * x - 0.8e-4 * y
        ((1012.0 + 1.01 * x + 0.03 * y) / den,
         (2944.0 + 0.02 * x + 1.42 * y) / den)
      }
      val fwd = (sx: Double, sy: Double) => {
        // exact algebraic inverse of `inv`: 2×2 solve of the linearized
        // projective equations (routing-only; precision uncritical)
        val a11 = 1.01 - sx * 1.2e-4; val a12 = 0.03 + sx * 0.8e-4
        val a21 = 0.02 - sy * 1.2e-4; val a22 = 1.42 + sy * 0.8e-4
        val r1 = sx - 1012.0; val r2 = sy - 2944.0
        val det = a11 * a22 - a12 * a21
        ((a22 * r1 - a12 * r2) / det, (a11 * r2 - a21 * r1) / det)
      }
      val (arr, varX, varY) = src.resampled(72L, 80L,
        (1000.0, 2.0, 3000.0, -2.0), (-10.0, 1.75, 40.0, -1.25),
        fwd, inv, "near")
      val a = arr.toTable.select(lit("arr").as("mode"),
        $"d0".as("a"), $"d1".as("b"), $"d2".as("c"),
        when(isnan($"v"), lit(null)).otherwise($"v").cast("long").as("v"))
      val vx = varX.toTable.select(lit("varx").as("mode"), lit(0L).as("a"),
        lit(0L).as("b"), $"d0".as("c"),
        floor($"v" * 1048576.0 + 0.5).cast("long").as("v"))
      val vy = varY.toTable.select(lit("vary").as("mode"), lit(0L).as("a"),
        lit(0L).as("b"), $"d0".as("c"),
        floor($"v" * 1048576.0 + 0.5).cast("long").as("v"))
      a.unionAll(vx).unionAll(vy).orderBy("mode", "a", "b", "c")
    }, Some("""
      WITH cells AS (SELECT tt.t AS t, jj.j AS j, ii.i AS i
            FROM range(3) tt(t), range(72) jj(j), range(80) ii(i)),
      m AS (SELECT t, j, i,
            -10.0 + (i + 0.5) * 1.75 AS dx,
            40.0 + (j + 0.5) * (-1.25) AS dy FROM cells),
      sp AS (SELECT t, j, i,
            (1012.0 + 1.01 * dx + 0.03 * dy)
              / (1.0 + 1.2e-4 * dx - 0.8e-4 * dy) AS sx,
            (2944.0 + 0.02 * dx + 1.42 * dy)
              / (1.0 + 1.2e-4 * dx - 0.8e-4 * dy) AS sy FROM m),
      p AS (SELECT t, j, i,
            CAST(floor(((sx - 1000.0) / 2.0 - 0.5) + 0.5) AS BIGINT) AS ix,
            CAST(floor(((sy - 3000.0) / (-2.0) - 0.5) + 0.5) AS BIGINT) AS iy
            FROM sp),
      arr AS (SELECT 'arr' AS mode, t AS a, j AS b, i AS c,
            CASE WHEN ix >= 0 AND ix < 64 AND iy >= 0 AND iy < 64
                 THEN (t * 101 + iy * 37 + ix * 17) % 251
                 ELSE NULL END AS v FROM p),
      vx AS (SELECT 'varx' AS mode, CAST(0 AS BIGINT) AS a,
            CAST(0 AS BIGINT) AS b, ii.i AS c,
            CAST(floor(((-10.0 + 1.75 / 2) + ii.i * 1.75) * 1048576.0 + 0.5)
              AS BIGINT) AS v FROM range(80) ii(i)),
      vy AS (SELECT 'vary' AS mode, CAST(0 AS BIGINT) AS a,
            CAST(0 AS BIGINT) AS b, jj.j AS c,
            CAST(floor(((40.0 + (-1.25) / 2) + jj.j * (-1.25)) * 1048576.0 + 0.5)
              AS BIGINT) AS v FROM range(72) jj(j))
      SELECT * FROM arr UNION ALL SELECT * FROM vx UNION ALL SELECT * FROM vy
      ORDER BY mode, a, b, c""")),

    // -- GeoJSON round-trip (g59): RFC 7946 codec (reference driver
    // ogr/ogrsf_frmts/geojson/ — OGRGeoJSONWriteGeometry /
    // OGRGeoJSONReadGeometry). The writer prints shortest-round-trip
    // doubles, so wkb → st_asgeojson → st_geomfromgeojson is LOSSLESS and
    // every post-round-trip measure equals the direct g07-style closed
    // form: any encode or decode defect breaks the numbers. jtype comes
    // from stock get_json_object over the emitted string (the Spark-side
    // GeoJSON-lines reader story: spark.read.json for properties +
    // st_geomfromgeojson for the geometry member).
    ("g59_geojson_roundtrip", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("x0", expr(lonOf("doc_id")))
        .withColumn("latc", expr(s"greatest(-84.9, least(84.9, ${latOf("doc_id")}))"))
        .withColumn("y0", expr("latc - 0.05")).withColumn("y1", expr("latc + 0.05"))
        .withColumn("x1", expr("x0 + 0.1"))
        .withColumn("xm", expr("x0 + 0.05")).withColumn("ya", expr("y0 + 0.08"))
      def pt(x: String, y: String) = s"CAST($x AS STRING), ' ', CAST($y AS STRING)"
      val rectWkt = s"concat('POLYGON ((', ${pt("x0", "y0")}, ',', ${pt("x1", "y0")}, ',', " +
        s"${pt("x1", "y1")}, ',', ${pt("x0", "y1")}, ',', ${pt("x0", "y0")}, '))')"
      val triWkt = s"concat('POLYGON ((', ${pt("x0", "y0")}, ',', ${pt("x1", "y0")}, ',', " +
        s"${pt("xm", "ya")}, ',', ${pt("x0", "y0")}, '))')"
      val polySrc = base.withColumn("wkb0",
        gf.st_geomfromtext(expr(s"CASE WHEN doc_id % 2 = 1 THEN $triWkt ELSE $rectWkt END")))
        .withColumn("kind", lit("poly"))
      val ptSrc = base.withColumn("wkb0", gf.st_point(col("x0"), col("y0")))
        .withColumn("kind", lit("point"))
      def rt(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("json", gf.st_asgeojson(col("wkb0"), lit(-1)))
        .withColumn("wkb", gf.st_geomfromgeojson(col("json")))
        .select(col("kind"), col("doc_id"),
          gf.st_geometrytype(col("wkb")).as("gtype"),
          get_json_object(col("json"), "$.type").as("jtype"),
          gf.st_npoints(col("wkb")).cast("long").as("npts"),
          gf.st_area(col("wkb")).as("area"),
          gf.st_x(gf.st_centroid(col("wkb"))).as("cx"),
          gf.st_y(gf.st_centroid(col("wkb"))).as("cy"),
          expr("CAST(floor(st_length(wkb) * 1000000.0 + 0.5) AS BIGINT)").as("perim_u"))
      rt(polySrc).unionAll(rt(ptSrc)).orderBy("kind", "doc_id")
    }, Some {
      val rect = Seq(("x0", "y0"), ("x1", "y0"), ("x1", "y1"), ("x0", "y1"), ("x0", "y0"))
      val tri = Seq(("x0", "y0"), ("x1", "y0"), ("xm", "ya"), ("x0", "y0"))
      val (rcx, rcy) = centroidSql(rect, signedAreaSql(rect))
      val (tcx, tcy) = centroidSql(tri, signedAreaSql(tri))
      s"""WITH c1 AS (SELECT doc_id, ${lonOf("doc_id")} AS x0,
            greatest(-84.9, least(84.9, ${latOf("doc_id")})) AS latc FROM documents),
          c2 AS (SELECT doc_id, x0, latc - 0.05 AS y0, latc + 0.05 AS y1,
            x0 + 0.1 AS x1, x0 + 0.05 AS xm, latc - 0.05 + 0.08 AS ya FROM c1)
          SELECT 'poly' AS kind, doc_id, 'POLYGON' AS gtype, 'Polygon' AS jtype,
            CAST(CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 5 END AS BIGINT) AS npts,
            CASE WHEN doc_id % 2 = 1 THEN abs(${signedAreaSql(tri)})
                 ELSE abs(${signedAreaSql(rect)}) END AS area,
            CASE WHEN doc_id % 2 = 1 THEN $tcx ELSE $rcx END AS cx,
            CASE WHEN doc_id % 2 = 1 THEN $tcy ELSE $rcy END AS cy,
            CAST(floor((CASE WHEN doc_id % 2 = 1 THEN ${perimeterSql(tri)}
                 ELSE ${perimeterSql(rect)} END) * 1000000.0 + 0.5) AS BIGINT) AS perim_u
          FROM c2
          UNION ALL
          SELECT 'point', doc_id, 'POINT', 'Point', CAST(1 AS BIGINT), 0.0,
            x0, y0, CAST(0 AS BIGINT) FROM c2
          ORDER BY kind, doc_id"""}),

    // -- KML + GML round-trip (g60): the two XML geometry fragment codecs
    // (reference ogr2kmlgeometry.cpp / ogr2gmlgeometry.cpp writers;
    // kmlnode.cpp / gml2ogrgeometry.cpp readers). Same lossless-round-trip
    // gate shape as g59: every post-round-trip measure equals the direct
    // closed form, for both formats, polygons and points.
    ("g60_kml_gml_roundtrip", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("x0", expr(lonOf("doc_id")))
        .withColumn("latc", expr(s"greatest(-84.9, least(84.9, ${latOf("doc_id")}))"))
        .withColumn("y0", expr("latc - 0.05")).withColumn("y1", expr("latc + 0.05"))
        .withColumn("x1", expr("x0 + 0.1"))
        .withColumn("xm", expr("x0 + 0.05")).withColumn("ya", expr("y0 + 0.08"))
      def pt(x: String, y: String) = s"CAST($x AS STRING), ' ', CAST($y AS STRING)"
      val rectWkt = s"concat('POLYGON ((', ${pt("x0", "y0")}, ',', ${pt("x1", "y0")}, ',', " +
        s"${pt("x1", "y1")}, ',', ${pt("x0", "y1")}, ',', ${pt("x0", "y0")}, '))')"
      val triWkt = s"concat('POLYGON ((', ${pt("x0", "y0")}, ',', ${pt("x1", "y0")}, ',', " +
        s"${pt("xm", "ya")}, ',', ${pt("x0", "y0")}, '))')"
      val polySrc = base.withColumn("wkb0",
        gf.st_geomfromtext(expr(s"CASE WHEN doc_id % 2 = 1 THEN $triWkt ELSE $rectWkt END")))
        .withColumn("kind", lit("poly"))
      val ptSrc = base.withColumn("wkb0", gf.st_point(col("x0"), col("y0")))
        .withColumn("kind", lit("point"))
      def rt(df: org.apache.spark.sql.DataFrame, fmt: String) = {
        val wkb =
          if (fmt == "kml") gf.st_geomfromkml(gf.st_askml(col("wkb0")))
          else gf.st_geomfromgml(gf.st_asgml(col("wkb0")))
        df.withColumn("wkb", wkb)
          .select(lit(fmt).as("fmt"), col("kind"), col("doc_id"),
            gf.st_geometrytype(col("wkb")).as("gtype"),
            gf.st_npoints(col("wkb")).cast("long").as("npts"),
            gf.st_area(col("wkb")).as("area"),
            gf.st_x(gf.st_centroid(col("wkb"))).as("cx"),
            gf.st_y(gf.st_centroid(col("wkb"))).as("cy"),
            expr("CAST(floor(st_length(wkb) * 1000000.0 + 0.5) AS BIGINT)").as("perim_u"))
      }
      rt(polySrc, "kml").unionAll(rt(ptSrc, "kml"))
        .unionAll(rt(polySrc, "gml")).unionAll(rt(ptSrc, "gml"))
        .orderBy("fmt", "kind", "doc_id")
    }, Some {
      val rect = Seq(("x0", "y0"), ("x1", "y0"), ("x1", "y1"), ("x0", "y1"), ("x0", "y0"))
      val tri = Seq(("x0", "y0"), ("x1", "y0"), ("xm", "ya"), ("x0", "y0"))
      val (rcx, rcy) = centroidSql(rect, signedAreaSql(rect))
      val (tcx, tcy) = centroidSql(tri, signedAreaSql(tri))
      s"""WITH c1 AS (SELECT doc_id, ${lonOf("doc_id")} AS x0,
            greatest(-84.9, least(84.9, ${latOf("doc_id")})) AS latc FROM documents),
          c2 AS (SELECT doc_id, x0, latc - 0.05 AS y0, latc + 0.05 AS y1,
            x0 + 0.1 AS x1, x0 + 0.05 AS xm, latc - 0.05 + 0.08 AS ya FROM c1),
          fmts AS (SELECT unnest(['kml', 'gml']) AS fmt)
          SELECT fmt, 'poly' AS kind, doc_id, 'POLYGON' AS gtype,
            CAST(CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 5 END AS BIGINT) AS npts,
            CASE WHEN doc_id % 2 = 1 THEN abs(${signedAreaSql(tri)})
                 ELSE abs(${signedAreaSql(rect)}) END AS area,
            CASE WHEN doc_id % 2 = 1 THEN $tcx ELSE $rcx END AS cx,
            CASE WHEN doc_id % 2 = 1 THEN $tcy ELSE $rcy END AS cy,
            CAST(floor((CASE WHEN doc_id % 2 = 1 THEN ${perimeterSql(tri)}
                 ELSE ${perimeterSql(rect)} END) * 1000000.0 + 0.5) AS BIGINT) AS perim_u
          FROM c2 CROSS JOIN fmts
          UNION ALL
          SELECT fmt, 'point', doc_id, 'POINT', CAST(1 AS BIGINT), 0.0,
            x0, y0, CAST(0 AS BIGINT) FROM c2 CROSS JOIN fmts
          ORDER BY fmt, kind, doc_id"""}),

    // -- GPX five-layer reader (g61): waypoints / routes / route_points /
    // tracks / track_points with the reference's lineage id fields
    // (ogrgpxlayer.cpp; ogr_gpx.h:93-97). Each document synthesizes a
    // deterministic GPX (2 wpt, 1 rte × 3 rtept, 1 trk × 2 trkseg ×
    // 2 trkpt, quarter-degree closed-form coords — exact in IEEE), the
    // engine parses it, and the twin regenerates the layer rows
    // relationally. lat/lon live in XML ATTRIBUTES (opposite of KML) —
    // the gate covers that path of the XML mini-parser.
    ("g61_gpx_layers", (s, dir) => {
      prep(s)
      val sp = s
      import sp.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .where("doc_id < 200").as[Long]
      ids.flatMap { d =>
        val L = (d % 300) - 150.0; val T = (d % 160) - 80.0
        def pt(tag: String, lon: Double, lat: Double) =
          s"""<$tag lat="$lat" lon="$lon"/>"""
        val sb = new StringBuilder("""<gpx version="1.1">""")
        for (k <- 0 until 2) sb.append(pt("wpt", L + k * 0.25, T - k * 0.25))
        sb.append("<rte>")
        for (i <- 0 until 3) sb.append(pt("rtept", L + 1 + i * 0.25, T + i * 0.25))
        sb.append("</rte><trk>")
        for (sg <- 0 until 2) {
          sb.append("<trkseg>")
          for (p <- 0 until 2)
            sb.append(pt("trkpt", L + 2 + sg + p * 0.25, T - 1 + sg * 0.25 + p * 0.25))
          sb.append("</trkseg>")
        }
        sb.append("</trk></gpx>")
        geom.GpxGeom.parse(sb.toString).iterator.map { f =>
          val (x, y, n) = f.geom match {
            case p: geom.Point => (p.x, p.y, 1)
            case l: geom.LineString => (l.x(0), l.y(0), l.numPoints)
            case m: geom.MultiLineString =>
              (m.lines(0).x(0), m.lines(0).y(0), m.lines.map(_.numPoints).sum)
            case _ => (Double.NaN, Double.NaN, 0)
          }
          (d, f.layer, f.fid.toLong, f.id1.toLong, f.id2.toLong, f.id3.toLong,
            n.toLong, math.floor(x * 4 + 0.5).toLong, math.floor(y * 4 + 0.5).toLong)
        }
      }.toDF("doc_id", "layer", "fid", "id1", "id2", "id3", "npts", "x_u", "y_u")
        .orderBy("doc_id", "layer", "fid")
    }, Some("""
      WITH d AS (SELECT doc_id, CAST((doc_id % 300) - 150 AS DOUBLE) AS L,
             CAST((doc_id % 160) - 80 AS DOUBLE) AS T
             FROM documents WHERE doc_id < 200),
      u AS (
        SELECT doc_id, 'waypoints' AS layer, k.k AS fid,
               -1 AS id1, -1 AS id2, -1 AS id3, 1 AS npts,
               L + k.k * 0.25 AS x, T - k.k * 0.25 AS y
        FROM d, range(2) k(k)
        UNION ALL
        SELECT doc_id, 'routes', 0, -1, -1, -1, 3, L + 1, T FROM d
        UNION ALL
        SELECT doc_id, 'route_points', i.i, 0, -1, i.i, 1,
               L + 1 + i.i * 0.25, T + i.i * 0.25 FROM d, range(3) i(i)
        UNION ALL
        SELECT doc_id, 'tracks', 0, -1, -1, -1, 4, L + 2, T - 1 FROM d
        UNION ALL
        SELECT doc_id, 'track_points', s.s * 2 + p.p, 0, s.s, p.p, 1,
               L + 2 + s.s + p.p * 0.25, T - 1 + s.s * 0.25 + p.p * 0.25
        FROM d, range(2) s(s), range(2) p(p))
      SELECT doc_id, layer, CAST(fid AS BIGINT) AS fid,
             CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
             CAST(id3 AS BIGINT) AS id3, CAST(npts AS BIGINT) AS npts,
             CAST(floor(x * 4 + 0.5) AS BIGINT) AS x_u,
             CAST(floor(y * 4 + 0.5) AS BIGINT) AS y_u
      FROM u ORDER BY doc_id, layer, fid""")),

    // -- OGR CSV AUTODETECT_TYPE (q32): the field-type sniffing algorithm
    // (ogrcsvlayer.cpp:881-1215 + CPLGetValueType) run distributed as
    // per-partition transition tables composed in range order. 13 columns
    // exercise the whole lattice: int/int64/real promotion, Date+DateTime,
    // Time+Date → String, boolean-word fields, BOTH order-dependent
    // boolean corners, never-set (all-empty), the leading-zero rule, and
    // the giant-exponent-evaluates-to-infinity rule. The DuckDB twin
    // replays the SAME 32-state machine as a recursive CTE over the
    // constructed class sequence.
    ("q32_csv_autodetect", (s, dir) => {
      prep(s)
      val base = t(s, dir, "documents").select(col("doc_id")).where("doc_id < 400")
      val dt = "concat('2023-01-', lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0'))"
      val tm = "concat('12:', lpad(CAST(doc_id % 60 AS STRING), 2, '0'))"
      val df = base
        .withColumn("c_int", expr("CAST(doc_id AS STRING)"))
        .withColumn("c_int64", expr(
          "CASE WHEN doc_id = 7 THEN '4000000000' ELSE CAST(doc_id AS STRING) END"))
        .withColumn("c_real", expr(
          "CASE WHEN doc_id % 2 = 0 THEN '1.5' ELSE CAST(doc_id AS STRING) END"))
        .withColumn("c_date", expr(dt))
        .withColumn("c_dt", expr(
          s"CASE WHEN doc_id = 5 THEN '2023-01-02 03:04:05' ELSE $dt END"))
        .withColumn("c_time", expr(tm))
        .withColumn("c_mix", expr(s"CASE WHEN doc_id = 9 THEN '2023-01-02' ELSE $tm END"))
        .withColumn("c_bool", expr(
          "element_at(array('t','false','YES','no','on'), CAST(doc_id % 5 AS INT) + 1)"))
        .withColumn("c_bool_int", expr(
          "CASE WHEN doc_id = 0 THEN 't' ELSE CAST(doc_id AS STRING) END"))
        .withColumn("c_int_bool", expr(
          "CASE WHEN doc_id = 1 THEN 't' ELSE CAST(doc_id AS STRING) END"))
        .withColumn("c_empty", lit(""))
        .withColumn("c_lead0", lit("0123"))
        .withColumn("c_bigexp", lit("1e4000"))
      val colsL = Seq("c_int", "c_int64", "c_real", "c_date", "c_dt", "c_time",
        "c_mix", "c_bool", "c_bool_int", "c_int_bool", "c_empty", "c_lead0",
        "c_bigexp")
      val res = sql.CsvSniff.sniff(df, "doc_id", colsL)
      import s.implicits.{localSeqToDatasetHolder, newStringEncoder, newProductEncoder}
      res.toDF("col", "typ").orderBy("col")
    }, Some {
      // the engine's step() as a SQL CASE over state s (= t*4 + b*2 + f)
      // and class c (0 empty, 1 int, 2 int64, 3 real, 4 date, 5 datetime,
      // 6 time, 7 boolword, 8 string)
      val step = """
        CASE
          WHEN c.cls = 0 THEN f.state
          WHEN f.state % 2 = 1 THEN f.state
          WHEN f.state // 4 = 0 THEN
            CASE c.cls WHEN 1 THEN 4 WHEN 2 THEN 8 WHEN 3 THEN 12
                       WHEN 4 THEN 16 WHEN 5 THEN 20 WHEN 6 THEN 24
                       WHEN 7 THEN 30 ELSE 29 END
          WHEN f.state // 4 = 7 THEN
            CASE WHEN c.cls IN (1, 2, 3) THEN f.state
                 ELSE 28 + (CASE WHEN (f.state // 2) % 2 = 1 AND c.cls = 7
                                 THEN 2 ELSE 0 END) + 1 END
          ELSE
            CASE WHEN (CASE c.cls WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 3
                       WHEN 4 THEN 4 WHEN 5 THEN 5 WHEN 6 THEN 6 ELSE 7 END)
                      = f.state // 4 THEN f.state
            ELSE
              CASE
                WHEN f.state // 4 = 1 AND c.cls = 2 THEN 8
                WHEN f.state // 4 = 1 AND c.cls = 3 THEN 12
                WHEN f.state // 4 = 2 AND c.cls = 1 THEN 8
                WHEN f.state // 4 = 2 AND c.cls = 3 THEN 12
                WHEN f.state // 4 = 3 AND c.cls IN (1, 2) THEN 12
                WHEN f.state // 4 = 4 AND c.cls = 5 THEN 20
                WHEN f.state // 4 = 5 AND c.cls = 4 THEN 20
                ELSE 28 + ((f.state // 2) % 2) * 2 + 1
              END
            END
        END"""
      s"""
      WITH RECURSIVE
      d AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
            FROM documents WHERE doc_id < 400),
      cls AS (
        SELECT 'c_int' AS col, rn, 1 AS cls FROM d
        UNION ALL SELECT 'c_int64', rn, CASE WHEN doc_id = 7 THEN 2 ELSE 1 END FROM d
        UNION ALL SELECT 'c_real', rn, CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END FROM d
        UNION ALL SELECT 'c_date', rn, 4 FROM d
        UNION ALL SELECT 'c_dt', rn, CASE WHEN doc_id = 5 THEN 5 ELSE 4 END FROM d
        UNION ALL SELECT 'c_time', rn, 6 FROM d
        UNION ALL SELECT 'c_mix', rn, CASE WHEN doc_id = 9 THEN 4 ELSE 6 END FROM d
        UNION ALL SELECT 'c_bool', rn, 7 FROM d
        UNION ALL SELECT 'c_bool_int', rn, CASE WHEN doc_id = 0 THEN 7 ELSE 1 END FROM d
        UNION ALL SELECT 'c_int_bool', rn, CASE WHEN doc_id = 1 THEN 7 ELSE 1 END FROM d
        UNION ALL SELECT 'c_empty', rn, 0 FROM d
        UNION ALL SELECT 'c_lead0', rn, 8 FROM d
        UNION ALL SELECT 'c_bigexp', rn, 8 FROM d),
      fsm AS (
        SELECT col, CAST(0 AS BIGINT) AS i, 0 AS state
        FROM (SELECT DISTINCT col FROM cls)
        UNION ALL
        SELECT f.col, f.i + 1, $step
        FROM fsm f JOIN cls c ON c.col = f.col AND c.rn = f.i + 1),
      fin AS (SELECT col, state,
              row_number() OVER (PARTITION BY col ORDER BY i DESC) AS rk
              FROM fsm)
      SELECT col,
        CASE state // 4 WHEN 1 THEN 'Integer' WHEN 2 THEN 'Integer64'
          WHEN 3 THEN 'Real' WHEN 5 THEN 'DateTime' WHEN 4 THEN 'Date'
          WHEN 6 THEN 'Time'
          ELSE CASE WHEN (state // 2) % 2 = 1 THEN 'Integer(Boolean)'
                    ELSE 'String' END END AS typ
      FROM fin WHERE rk = 1 ORDER BY col"""}),

    // -- MVT vector tile sink (g62): the reference's vector tile format
    // (ogr/ogrsf_frmts/mvt/, public vector_tile.proto 2.1 spec). The
    // distributed plan IS the raster tile sink's: assign features to
    // tiles, ONE groupByKey encodes each tile locally. The gate runs the
    // full byte path — quantize → encode protobuf wire → DECODE the bytes
    // back (command/zigzag/cursor, key/value tables) → rows; the twin
    // computes the quantized integers closed-form, so any wire defect in
    // either direction breaks the compare. Pure-arithmetic synthetic
    // world (4×4 tiles of span 256, extent 4096) keeps quantization
    // bit-exact on both sides.
    ("g62_mvt_tiles", (s, dir) => {
      prep(s)
      val sp = s
      import sp.implicits._
      val pts = t(s, dir, "documents").select(col("doc_id"))
        .where("doc_id < 600").as[Long]
        .map { d =>
          val mx = (d * 97 % 1024) + 0.25
          val my = (d * 131 % 1024) + 0.5
          val tx = (mx / 256).toInt; val ty = (my / 256).toInt
          val px = math.floor((mx - tx * 256.0) / 256.0 * 4096.0 + 0.5).toInt
          val py = math.floor((my - ty * 256.0) / 256.0 * 4096.0 + 0.5).toInt
          (tx, ty, d, px, py)
        }
      val tiles = pts.groupByKey(r => (r._1, r._2)).mapGroups { (k, it) =>
        val fs = it.toArray.sortBy(_._3).map { case (_, _, d, px, py) =>
          engine.Mvt.Feature(d, engine.Mvt.TPoints(Array((px, py))),
            Seq("doc" -> engine.Mvt.VLong(d)))
        }
        (k._1, k._2, engine.Mvt.encodeTile(Seq(engine.Mvt.Layer("docs", 4096, fs.toSeq))))
      }
      tiles.flatMap { case (tx, ty, bytes) =>
        engine.Mvt.decodeTile(bytes).iterator.flatMap { l =>
          l.features.iterator.map { f =>
            val (px, py) = f.parts.head.head
            val tag = f.tags.collectFirst { case ("doc", engine.Mvt.VLong(v)) => v }
              .getOrElse(-1L)
            (tx.toLong, ty.toLong, f.id, px.toLong, py.toLong, tag)
          }
        }
      }.toDF("tx", "ty", "fid", "px", "py", "tag")
        .orderBy("fid")
    }, Some("""
      WITH m AS (SELECT doc_id,
            (doc_id * 97 % 1024) + 0.25 AS mx,
            (doc_id * 131 % 1024) + 0.5 AS my
            FROM documents WHERE doc_id < 600)
      SELECT CAST(floor(mx / 256) AS BIGINT) AS tx,
             CAST(floor(my / 256) AS BIGINT) AS ty,
             doc_id AS fid,
             CAST(floor((mx - floor(mx / 256) * 256.0) / 256.0 * 4096.0 + 0.5)
               AS BIGINT) AS px,
             CAST(floor((my - floor(my / 256) * 256.0) / 256.0 * 4096.0 + 0.5)
               AS BIGINT) AS py,
             doc_id AS tag
      FROM m ORDER BY fid""")),

    // -- SQ8 scalar-quantized ANN (e08): the uniform 8-bit quantization
    // tier next to PQ (faiss ScalarQuantizer QT_8bit form, public
    // method). Per-dim [min,max] trained in one aggregation; codes are
    // dim bytes (8× bandwidth cut); approx = squared-L2 between
    // reconstructed unit vectors rounded to 1e-6 → candC → exact-cosine
    // refine. The twin replays train/encode/reconstruct/score with the
    // same left-to-right folds — any quantization defect flips a
    // candidate set and fails the compare.
    ("e08_sq8_topk", (s, dir) => {
      prep(s)
      engine.Ann.sq8TopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          isQuery = id => id < 20, candC = 48, topK = 3)
        .orderBy("qid", "rank")
    }, Some("""
      WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
            sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
              x -> x * x))) AS nm FROM embeddings),
      e AS (SELECT vec_id, emb, nm,
            list_transform(emb, x -> x / nm) AS un FROM e0),
      dimc AS (SELECT max(len(emb)) AS dim FROM e0),
      st AS (SELECT ii.i AS i, min(un[ii.i]) AS mn, max(un[ii.i]) AS mx
             FROM e, (SELECT unnest(generate_series(1,
               (SELECT dim FROM dimc))) AS i) ii
             GROUP BY ii.i),
      ls AS (SELECT list(mn ORDER BY i) AS mns,
                    list(mx - mn ORDER BY i) AS sps FROM st),
      rec AS (SELECT vec_id,
          list_transform(generate_series(1, (SELECT dim FROM dimc)), i ->
            mns[i] + (CASE WHEN sps[i] = 0 THEN 0
              ELSE least(255, greatest(0,
                floor((un[i] - mns[i]) / sps[i] * 255.0 + 0.5))) END)
              * sps[i] / 255.0) AS r
          FROM e CROSS JOIN ls),
      ad AS (SELECT q.vec_id AS qid, p.vec_id AS pid,
          CAST(floor(list_sum(list_transform(
            generate_series(1, (SELECT dim FROM dimc)),
            i -> (q.r[i] - p.r[i]) * (q.r[i] - p.r[i]))) * 1000000.0 + 0.5)
            AS BIGINT) AS ad_u
          FROM rec q CROSS JOIN rec p
          WHERE q.vec_id < 20 AND q.vec_id <> p.vec_id),
      cand AS (SELECT qid, pid FROM (SELECT qid, pid,
          row_number() OVER (PARTITION BY qid ORDER BY ad_u, pid) AS crk
          FROM ad) WHERE crk <= 48),
      ref AS (SELECT c.qid, c.pid,
          list_sum(list_transform(generate_series(1, len(q.emb)),
            i -> q.emb[i] * p.emb[i])) / (q.nm * p.nm) AS cos
          FROM cand c JOIN e q ON c.qid = q.vec_id JOIN e p ON c.pid = p.vec_id),
      rk AS (SELECT qid, pid, cos, CAST(row_number() OVER (PARTITION BY qid
            ORDER BY cos DESC, pid) AS BIGINT) AS rank FROM ref)
      SELECT qid, pid, rank, CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_u
      FROM rk WHERE rank <= 3 ORDER BY qid, rank""")),

    // -- Gopher repetition quality stats (d11): the Rae et al. 2021 §A1.1
    // repetition filters — fraction of characters in the most frequent
    // word 2/3/4-gram, fraction of characters covered by duplicated word
    // 5/6/7-grams — as ONE single-pass codegen kernel per document
    // (text_rep_stats), map-only at any scale. All counts are exact
    // integers; ppm fractions use integer division so both engines agree
    // bit-for-bit. The DuckDB twin replays the n-gram counting and the
    // position-union coverage relationally.
    ("d11_rep_stats", (s, dir) => {
      prep(s)
      t(s, dir, "documents")
        .withColumn("rs", expr("text_rep_stats(text)"))
        .select(col("doc_id"),
          expr("element_at(rs, 1)").as("n_words"),
          expr("element_at(rs, 2)").as("tot_wchars"),
          expr("(element_at(rs, 3) * 1000000L) div greatest(element_at(rs, 2), 1L)").as("top2_ppm"),
          expr("(element_at(rs, 4) * 1000000L) div greatest(element_at(rs, 2), 1L)").as("top3_ppm"),
          expr("(element_at(rs, 5) * 1000000L) div greatest(element_at(rs, 2), 1L)").as("top4_ppm"),
          expr("(element_at(rs, 6) * 1000000L) div greatest(element_at(rs, 2), 1L)").as("dup5_ppm"),
          expr("(element_at(rs, 7) * 1000000L) div greatest(element_at(rs, 2), 1L)").as("dup6_ppm"),
          expr("(element_at(rs, 8) * 1000000L) div greatest(element_at(rs, 2), 1L)").as("dup7_ppm"))
        .orderBy("doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      b AS (SELECT doc_id, len(ws) AS m, ws,
              CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT) AS tot
            FROM w),
      nn AS (SELECT * FROM (VALUES (2),(3),(4),(5),(6),(7)) t(n)),
      gi AS (SELECT doc_id, n, unnest(generate_series(1, m - n + 1)) AS i, ws
             FROM b JOIN nn ON m - n + 1 >= 1),
      g AS (SELECT doc_id, n, i,
              array_to_string(list_slice(ws, i, i + n - 1), ' ') AS gram
            FROM gi),
      c AS (SELECT doc_id, n, i, gram,
              count(*) OVER (PARTITION BY doc_id, n, gram) AS cnt FROM g),
      tops AS (SELECT doc_id, n,
              max(cnt * (length(gram) - (n - 1))) AS cov
            FROM (SELECT DISTINCT doc_id, n, gram, cnt FROM c) GROUP BY 1, 2),
      dpos AS (SELECT DISTINCT doc_id, n, j FROM
              (SELECT doc_id, n, unnest(generate_series(i, i + n - 1)) AS j
               FROM c WHERE cnt >= 2 AND n >= 5)),
      dcov AS (SELECT d.doc_id, d.n, CAST(sum(length(b.ws[d.j])) AS BIGINT) AS cov
               FROM dpos d JOIN b ON b.doc_id = d.doc_id GROUP BY 1, 2)
      SELECT b.doc_id, CAST(b.m AS BIGINT) AS n_words, b.tot AS tot_wchars,
        CAST(coalesce(t2.cov, 0) * 1000000 // greatest(b.tot, 1) AS BIGINT) AS top2_ppm,
        CAST(coalesce(t3.cov, 0) * 1000000 // greatest(b.tot, 1) AS BIGINT) AS top3_ppm,
        CAST(coalesce(t4.cov, 0) * 1000000 // greatest(b.tot, 1) AS BIGINT) AS top4_ppm,
        CAST(coalesce(d5.cov, 0) * 1000000 // greatest(b.tot, 1) AS BIGINT) AS dup5_ppm,
        CAST(coalesce(d6.cov, 0) * 1000000 // greatest(b.tot, 1) AS BIGINT) AS dup6_ppm,
        CAST(coalesce(d7.cov, 0) * 1000000 // greatest(b.tot, 1) AS BIGINT) AS dup7_ppm
      FROM b
      LEFT JOIN tops t2 ON t2.doc_id = b.doc_id AND t2.n = 2
      LEFT JOIN tops t3 ON t3.doc_id = b.doc_id AND t3.n = 3
      LEFT JOIN tops t4 ON t4.doc_id = b.doc_id AND t4.n = 4
      LEFT JOIN dcov d5 ON d5.doc_id = b.doc_id AND d5.n = 5
      LEFT JOIN dcov d6 ON d6.doc_id = b.doc_id AND d6.n = 6
      LEFT JOIN dcov d7 ON d7.doc_id = b.doc_id AND d7.n = 7
      ORDER BY b.doc_id""")),

    // -- Exact-substring duplicate spans (d12): the Lee et al. 2022
    // ("Deduplicating Training Data Makes Language Models Better")
    // cross-document exact-duplicate criterion at fixed k=20 chars — every
    // position whose 20-gram also appears in ANOTHER document, with the
    // hit intervals [pos, pos+20) merged per document into maximal islands
    // (gaps-and-islands over a running-max window). The dedup decision
    // surface is (covered_chars, covered_ppm). Plan: one k-gram explode,
    // ONE bounded groupBy(gram) to find cross-doc grams (map-side combine;
    // an existence semi-join back, never pairwise), one window pass —
    // no stage is doc-pair-quadratic. At 100 TB the gram explode anchors
    // on winnow fingerprints (d10) first; the gate runs the exact stride-1
    // semantics so the oracle is closed-form.
    ("d12_dup_spans", (s, dir) => {
      prep(s)
      import org.apache.spark.sql.expressions.Window
      val k = 20
      val docs = t(s, dir, "documents")
      val grams = docs.where(length(col("text")) >= k)
        .select(col("doc_id"),
          expr(s"explode(sequence(0, length(text) - $k))").as("pos"), col("text"))
        .withColumn("g", expr(s"substring(text, pos + 1, $k)"))
        .select("doc_id", "pos", "g")
      val shared = grams.groupBy("g")
        .agg(countDistinct("doc_id").as("nd")).where(col("nd") >= 2).select("g")
      val hits = grams.join(shared, "g").select("doc_id", "pos")
      val byPos = Window.partitionBy("doc_id").orderBy("pos")
      val islands = hits
        .withColumn("pend", max(col("pos") + k).over(
          byPos.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("newisl",
          when(col("pend").isNull || col("pos") > col("pend"), 1).otherwise(0))
        .withColumn("isl", sum("newisl").over(
          byPos.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "isl")
        .agg(min("pos").as("s0"), (max(col("pos")) + k).as("e0"))
        .groupBy("doc_id")
        .agg(count("*").as("n_islands"), sum(col("e0") - col("s0")).as("covered"))
      val perDoc = hits.groupBy("doc_id").agg(count("*").as("n_dup_kgrams"))
      docs.select("doc_id", "text")
        .join(perDoc, Seq("doc_id"), "left")
        .join(islands, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dup_kgrams"), lit(0L)).as("n_dup_kgrams"),
          coalesce(col("n_islands"), lit(0L)).as("n_islands"),
          coalesce(col("covered"), lit(0L)).as("covered_chars"),
          expr("(coalesce(covered, 0L) * 1000000L) div length(text)").as("covered_ppm"))
        .orderBy("doc_id")
    }, Some("""
      WITH g0 AS (SELECT doc_id, unnest(generate_series(0, length(text) - 20)) AS pos,
                    text FROM documents WHERE length(text) >= 20),
      gg AS (SELECT doc_id, pos, substr(text, pos + 1, 20) AS g FROM g0),
      sh AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM gg GROUP BY g) t
             WHERE nd >= 2),
      h AS (SELECT doc_id, pos FROM gg JOIN sh USING (g)),
      w AS (SELECT doc_id, pos, max(pos + 20) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pend FROM h),
      i AS (SELECT doc_id, pos, sum(CASE WHEN pend IS NULL OR pos > pend THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM w),
      isl AS (SELECT doc_id, isl, min(pos) AS s0, max(pos) + 20 AS e0 FROM i GROUP BY 1, 2),
      agg AS (SELECT doc_id, count(*) AS n_islands, sum(e0 - s0) AS covered FROM isl GROUP BY 1),
      hc AS (SELECT doc_id, count(*) AS n_dup FROM h GROUP BY 1)
      SELECT d.doc_id,
        CAST(coalesce(hc.n_dup, 0) AS BIGINT) AS n_dup_kgrams,
        CAST(coalesce(agg.n_islands, 0) AS BIGINT) AS n_islands,
        CAST(coalesce(agg.covered, 0) AS BIGINT) AS covered_chars,
        CAST(coalesce(agg.covered, 0) * 1000000 // length(d.text) AS BIGINT) AS covered_ppm
      FROM documents d
      LEFT JOIN agg ON agg.doc_id = d.doc_id
      LEFT JOIN hc ON hc.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    // -- Benchmark decontamination (d13): the GPT-3/PaLM-style 13-word-gram
    // collision scan (Brown et al. 2020 appendix C decontamination). The
    // "benchmark" is synthesized deterministically from the corpus itself
    // (docs with doc_id % 97 = 0 contribute words 4..16 as one benchmark
    // item), so planted contamination exists by construction (self-hits +
    // near-duplicate docs). Plan: the small benchmark set is BROADCAST;
    // the corpus side explodes word 13-grams map-side and hash-joins —
    // zero corpus shuffle, the scale shape for contamination sweeps.
    ("d13_decontam", (s, dir) => {
      prep(s)
      val k = 13
      val docsW = t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " ", -1))
      val bench = docsW.where(col("doc_id") % 97 === 0)
        .where(size(col("ws")) >= 16)
        .select(col("doc_id").as("bench_id"),
          expr("array_join(slice(ws, 4, 13), ' ')").as("bg"))
      val grams = docsW.where(size(col("ws")) >= k)
        .select(col("doc_id"),
          expr(s"explode(sequence(1, size(ws) - $k + 1))").as("i"), col("ws"))
        .withColumn("g", expr(s"array_join(slice(ws, i, $k), ' ')"))
      grams.join(broadcast(bench), col("g") === col("bg"))
        .groupBy("doc_id", "bench_id").agg(count("*").as("n_hits"))
        .orderBy("doc_id", "bench_id")
    }, Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      bench AS (SELECT doc_id AS bench_id,
                  array_to_string(list_slice(ws, 4, 16), ' ') AS bg
                FROM w WHERE doc_id % 97 = 0 AND len(ws) >= 16),
      dg AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 12)) AS i, ws
             FROM w WHERE len(ws) >= 13),
      gg AS (SELECT doc_id, array_to_string(list_slice(ws, i, i + 12), ' ') AS g FROM dg)
      SELECT doc_id, bench_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM gg JOIN bench ON g = bg
      GROUP BY 1, 2 ORDER BY doc_id, bench_id""")),

    // -- LAEA + Miller projections (g63): Lambert Azimuthal Equal-Area
    // (Snyder §24, PROJ laea — the EPSG:3035/6931/6932 statistics-grid
    // frame, the most-used azimuthal missing after g46/g53) and Miller
    // Cylindrical (Snyder §18, PROJ mill). Same fixture discipline as
    // g53: points restricted to a window ~67° max from the (40°N, 10°E)
    // LAEA center so no NaN branch can straddle the oracle; forwards
    // mm-rounded with the twin mirroring the kernel's operation order,
    // inverses as zero micro-degree round-trip residuals.
    ("g63_proj_laea_mill", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = Queries.eventPoints(s, dir).where(col("event_id") < 5000)
        .where(col("lon") > -50.0 && col("lon") < 70.0 &&
               col("lat") > 0.0 && col("lat") < 80.0)
        .withColumn("pw", gf.st_point(col("lon"), col("lat")))
        .withColumn("gl", expr("st_transform_laea(pw, 40.0, 10.0)"))
        .withColumn("gm", expr("st_transform_mill(pw, 0.0)"))
        .withColumn("rl", expr(
          "st_transform_laea_inv(st_transform_laea(pw, 40.0, 10.0), 40.0, 10.0)"))
        .withColumn("rm", expr(
          "st_transform_mill_inv(st_transform_mill(pw, 0.0), 0.0)"))
      base.select(col("event_id"),
          expr("CAST(floor(st_x(gl) * 1000.0 + 0.5) AS BIGINT)").as("lx_mm"),
          expr("CAST(floor(st_y(gl) * 1000.0 + 0.5) AS BIGINT)").as("ly_mm"),
          expr("CAST(floor(st_x(gm) * 1000.0 + 0.5) AS BIGINT)").as("mx_mm"),
          expr("CAST(floor(st_y(gm) * 1000.0 + 0.5) AS BIGINT)").as("my_mm"),
          expr("CAST(floor((st_x(rl) - lon) * 1000000.0 + 0.5) AS BIGINT)").as("lrlon_u"),
          expr("CAST(floor((st_y(rl) - lat) * 1000000.0 + 0.5) AS BIGINT)").as("lrlat_u"),
          expr("CAST(floor((st_x(rm) - lon) * 1000000.0 + 0.5) AS BIGINT)").as("mrlon_u"),
          expr("CAST(floor((st_y(rm) - lat) * 1000000.0 + 0.5) AS BIGINT)").as("mrlat_u"))
        .orderBy("event_id")
    }, Some {
      val aL = dlit(graft.geom.Conic.A)
      val d2rl = "(pi() / 180.0)"
      s"""WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
                   ${latOf("event_id")} AS lat FROM events WHERE event_id < 5000),
      ptf AS (SELECT * FROM pts
              WHERE lon > -50.0 AND lon < 70.0 AND lat > 0.0 AND lat < 80.0),
      cc AS (SELECT event_id, lon, lat,
          lat * $d2rl AS phi, (lon - 10.0) * $d2rl AS dl,
          40.0 * $d2rl AS phi0 FROM ptf),
      az AS (SELECT event_id, lon, phi, dl, phi0,
          1.0 + sin(phi0) * sin(phi) + cos(phi0) * cos(phi) * cos(dl) AS den
          FROM cc),
      v AS (SELECT event_id,
          $aL * sqrt(2.0 / den) * cos(phi) * sin(dl) AS lx,
          $aL * sqrt(2.0 / den) * (cos(phi0) * sin(phi) - sin(phi0) * cos(phi) * cos(dl)) AS ly,
          $aL * ((lon - 0.0) * $d2rl) AS mx,
          $aL * ln(tan(pi() / 4.0 + 0.4 * phi)) / 0.8 AS my
          FROM az)
      SELECT event_id,
          CAST(floor(lx * 1000.0 + 0.5) AS BIGINT) AS lx_mm,
          CAST(floor(ly * 1000.0 + 0.5) AS BIGINT) AS ly_mm,
          CAST(floor(mx * 1000.0 + 0.5) AS BIGINT) AS mx_mm,
          CAST(floor(my * 1000.0 + 0.5) AS BIGINT) AS my_mm,
          CAST(0 AS BIGINT) AS lrlon_u, CAST(0 AS BIGINT) AS lrlat_u,
          CAST(0 AS BIGINT) AS mrlon_u, CAST(0 AS BIGINT) AS mrlat_u
      FROM v ORDER BY event_id"""}),

    // -- Corpus bigram-LM document scoring (d14): the perplexity-filter
    // shape (CCNet, Wenzek et al. 2020 — score every document under a
    // count-based LM and filter/bucket by average log-likelihood). The LM
    // is the corpus itself: bigram MLE p(w2|w1) = cb/cu. Plan: ONE explode
    // → two bounded count aggregations (the LM tables) → hash joins back
    // on the gram keys → per-doc sum. At 100 TB the LM tables are the
    // small side (vocab-bounded) and broadcast; nothing is doc-pair
    // quadratic. Scores are per-position floor(ln(p)·10⁴) so the per-doc
    // sum is order-independent and integer-exact.
    ("d14_bigram_lm", (s, dir) => {
      prep(s)
      val docsW = t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " ", -1))
      val big = docsW.where(size(col("ws")) >= 2)
        .select(col("doc_id"),
          expr("explode(sequence(1, size(ws) - 1))").as("i"), col("ws"))
        .withColumn("w1", expr("element_at(ws, i)"))
        .withColumn("w2", expr("element_at(ws, i + 1)"))
        .select("doc_id", "w1", "w2")
      val bc = big.groupBy("w1", "w2").agg(count("*").as("cb"))
      val uc = big.groupBy("w1").agg(count("*").as("cu"))
      big.join(broadcast(bc), Seq("w1", "w2")).join(broadcast(uc), Seq("w1"))
        .withColumn("nll", expr(
          "CAST(floor(ln(CAST(cb AS DOUBLE) / CAST(cu AS DOUBLE)) * 10000.0) AS BIGINT)"))
        .groupBy("doc_id")
        .agg(count("*").as("n_bigrams"), sum("nll").as("ll_sum_e4"))
        .orderBy("doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      b AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 1)) AS i, ws
            FROM w WHERE len(ws) >= 2),
      big AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM b),
      bc AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
      uc AS (SELECT w1, count(*) AS cu FROM big GROUP BY 1),
      sc AS (SELECT doc_id,
               CAST(floor(ln(CAST(cb AS DOUBLE) / CAST(cu AS DOUBLE)) * 10000.0) AS BIGINT) AS nll
             FROM big JOIN bc USING (w1, w2) JOIN uc USING (w1))
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(nll) AS BIGINT) AS ll_sum_e4
      FROM sc GROUP BY 1 ORDER BY doc_id""")),

    // -- BPE-ish pre-tokenizer segmentation (d15): character-class runs
    // (letters / digits / spaces / other — the GPT-2 pre-tokenizer's
    // coarse split) as one single-pass codegen kernel. The input string
    // is the doc text enriched with a deterministic id/punct suffix so
    // digit and punctuation segments exist in this corpus. The twin
    // replays the class transitions with a lag window + gaps-and-islands.
    ("d15_char_segs", (s, dir) => {
      prep(s)
      t(s, dir, "documents")
        .withColumn("t", expr(
          "concat(text, ' id:', CAST(doc_id AS STRING), '#', CAST(doc_id % 100 AS STRING), '!')"))
        .withColumn("cs", expr("text_char_segs(t)"))
        .select(col("doc_id"),
          expr("element_at(cs, 1)").as("n_segs"),
          expr("element_at(cs, 2)").as("n_letter"),
          expr("element_at(cs, 3)").as("n_digit"),
          expr("element_at(cs, 4)").as("n_other"),
          expr("element_at(cs, 5)").as("n_space"),
          expr("element_at(cs, 6)").as("max_run"),
          expr("element_at(cs, 7)").as("n_long16"))
        .orderBy("doc_id")
    }, Some("""
      WITH e AS (SELECT doc_id,
              text || ' id:' || CAST(doc_id AS VARCHAR) || '#' ||
              CAST(doc_id % 100 AS VARCHAR) || '!' AS t FROM documents),
      p AS (SELECT doc_id, unnest(generate_series(1, length(t))) AS i, t FROM e),
      c AS (SELECT doc_id, i,
              CASE WHEN substr(t, i, 1) = ' ' THEN 0
                   WHEN (substr(t, i, 1) BETWEEN 'a' AND 'z')
                     OR (substr(t, i, 1) BETWEEN 'A' AND 'Z') THEN 1
                   WHEN substr(t, i, 1) BETWEEN '0' AND '9' THEN 2
                   ELSE 3 END AS cls FROM p),
      st AS (SELECT doc_id, i, cls,
              CASE WHEN lag(cls) OVER (PARTITION BY doc_id ORDER BY i)
                   IS DISTINCT FROM cls THEN 1 ELSE 0 END AS brk FROM c),
      sid AS (SELECT doc_id, i, cls, sum(brk) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg FROM st),
      segs AS (SELECT doc_id, seg, min(cls) AS cls, count(*) AS len
               FROM sid GROUP BY 1, 2)
      SELECT doc_id,
        CAST(count(*) AS BIGINT) AS n_segs,
        CAST(sum(CASE WHEN cls = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_letter,
        CAST(sum(CASE WHEN cls = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_digit,
        CAST(sum(CASE WHEN cls = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_other,
        CAST(sum(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_space,
        CAST(max(len) AS BIGINT) AS max_run,
        CAST(sum(CASE WHEN len > 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_long16
      FROM segs GROUP BY 1 ORDER BY doc_id""")),

    // -- Deterministic temperature-mixture sampling (d16): the multilingual
    // rebalancing rule (sample lang ℓ at rate ∝ n_ℓ^α; α=0.5 geometric-mean
    // targets, the mT5/XLM-R mixing family) made fully deterministic and
    // engine-replayable: target_ℓ = floor(√(n_ℓ·min_n)), and a doc is kept
    // iff its Knuth multiplicative hash h(doc_id) satisfies the exact
    // integer cross-multiplication h·n_ℓ < target_ℓ·2²⁰ — rate sampling
    // with NO global rank, NO window, no skew: one count aggregation, one
    // broadcast join, map-only keep decision at any scale. All arithmetic
    // stays below 2⁵³ by reducing doc_id mod 1048573 before the multiply.
    ("d16_temp_mix", (s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy("lang").agg(count("*").as("n"))
      val minN = counts.agg(min("n").as("mn"))
      val tgt = counts.crossJoin(broadcast(minN))
        .withColumn("tgt", expr("CAST(floor(sqrt(CAST(n * mn AS DOUBLE))) AS BIGINT)"))
        .select("lang", "n", "tgt")
      docs.join(broadcast(tgt), "lang")
        .withColumn("h", expr("((doc_id % 1048573) * 2654435761L) % 1048576"))
        .where(expr("h * n < tgt * 1048576"))
        .select(col("doc_id"), col("lang"), col("h"), col("n"), col("tgt"))
        .orderBy("doc_id")
    }, Some("""
      WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      mn AS (SELECT min(n) AS mn FROM c),
      t AS (SELECT lang, n,
              CAST(floor(sqrt(CAST(n * mn AS DOUBLE))) AS BIGINT) AS tgt
            FROM c, mn),
      k AS (SELECT d.doc_id, d.lang,
              ((d.doc_id % 1048573) * 2654435761) % 1048576 AS h, t.n, t.tgt
            FROM documents d JOIN t USING (lang))
      SELECT doc_id, lang, CAST(h AS BIGINT) AS h, CAST(n AS BIGINT) AS n, tgt
      FROM k WHERE h * n < tgt * 1048576 ORDER BY doc_id""")),

    // -- Streaming near-duplicate suppression (s05): the streaming twin of
    // the batch d05→d08 LSH pipeline — MinHash band buckets as
    // flatMapGroupsWithState keys, bucket state = previously-arrived
    // members, flag iff an earlier arrival passes the integer-exact
    // trigram-Jaccard ≥ 0.6 refine. Three deterministic arrival batches
    // (doc_id % 3), one checkpoint-restarted AvailableNow run each —
    // state surviving the restarts is the thing under test (re-matching
    // would flip is_dup rows). The twin replays "earlier" as (batch,
    // doc_id) lexicographic order over the same band join + refine.
    ("s05_stream_neardup", (s, dir) => {
      streaming.StreamJobs.streamNearDup(s, s"$dir/documents.parquet",
        "/tmp/graft_s05_work")
    }, Some(s"""
      WITH ${Queries.minhashCte},
      bands AS (SELECT doc_id, 0 AS band, h0 AS x1, h1 AS x2, h2 AS x3, h3 AS x4 FROM sig
                UNION ALL
                SELECT doc_id, 1 AS band, h4 AS x1, h5 AS x2, h6 AS x3, h7 AS x4 FROM sig),
      cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.x1 = r.x1
          AND l.x2 = r.x2 AND l.x3 = r.x3 AND l.x4 = r.x4
        WHERE (l.doc_id % 3 < r.doc_id % 3)
           OR (l.doc_id % 3 = r.doc_id % 3 AND l.doc_id < r.doc_id)),
      sets AS (SELECT doc_id, list_distinct(${trigramCodes("text", duck = true)}) AS cd
               FROM documents WHERE length(text) >= 3),
      p AS (SELECT a, b,
              len(list_filter(sa.cd, x -> list_contains(sb.cd, x))) AS inter,
              len(sa.cd) + len(sb.cd) AS tot
            FROM cand JOIN sets sa ON a = sa.doc_id JOIN sets sb ON b = sb.doc_id),
      e AS (SELECT a, b FROM p WHERE inter * 1000 >= 600 * (tot - inter)),
      m AS (SELECT b AS doc_id, min(a) AS mm FROM e GROUP BY 1)
      SELECT d.doc_id,
        CAST(CASE WHEN m.mm IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
        CAST(coalesce(m.mm, -1) AS BIGINT) AS match_min
      FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
      WHERE length(d.text) >= 3 ORDER BY d.doc_id""")),

    // -- Decontamination span excision (d17): the transform companion to
    // d13 — REMOVE every contaminated 13-word-gram span (union of covered
    // word positions, the island count being the removed-span count) and
    // emit the cleaned document digest. Same broadcast-bench plan as d13
    // plus one per-doc position-set aggregation; the cleaned text is
    // reconstructed order-preserving from the uncovered positions and
    // compared by md5 so the oracle check is content-exact without
    // shipping full texts through the compare.
    ("d17_decontam_excise", (s, dir) => {
      prep(s)
      val k = 13
      val docsW = t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " ", -1))
      val bench = docsW.where(col("doc_id") % 97 === 0)
        .where(size(col("ws")) >= 16)
        .select(col("doc_id").as("bench_id"),
          expr("array_join(slice(ws, 4, 13), ' ')").as("bg"))
      val hits = docsW.where(size(col("ws")) >= k)
        .select(col("doc_id"),
          expr(s"explode(sequence(1, size(ws) - $k + 1))").as("i"), col("ws"))
        .withColumn("g", expr(s"array_join(slice(ws, i, $k), ' ')"))
        .join(broadcast(bench), col("g") === col("bg"))
        .select("doc_id", "i")
      val cov = hits
        .select(col("doc_id"), expr(s"explode(sequence(i, i + $k - 1))").as("j"))
        .distinct()
        .groupBy("doc_id").agg(collect_set("j").as("cj"))
      docsW.join(cov, "doc_id")
        .withColumn("kept", expr(
          "transform(filter(sequence(1, size(ws)), p -> NOT array_contains(cj, p)), " +
          "p -> element_at(ws, p))"))
        .select(col("doc_id"),
          expr("CAST(size(filter(cj, j -> NOT array_contains(cj, j - 1))) AS BIGINT)")
            .as("n_spans"),
          expr("CAST(size(cj) AS BIGINT)").as("n_removed_words"),
          expr("md5(array_join(kept, ' '))").as("cleaned_md5"))
        .orderBy("doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      bench AS (SELECT doc_id AS bench_id,
                  array_to_string(list_slice(ws, 4, 16), ' ') AS bg
                FROM w WHERE doc_id % 97 = 0 AND len(ws) >= 16),
      dg AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 12)) AS i, ws
             FROM w WHERE len(ws) >= 13),
      gg AS (SELECT doc_id, i, array_to_string(list_slice(ws, i, i + 12), ' ') AS g FROM dg),
      hits AS (SELECT doc_id, i FROM gg JOIN bench ON g = bg),
      cov AS (SELECT DISTINCT doc_id, j FROM
              (SELECT doc_id, unnest(generate_series(i, i + 12)) AS j FROM hits)),
      pos AS (SELECT w.doc_id, unnest(generate_series(1, len(ws))) AS p, ws
              FROM w WHERE w.doc_id IN (SELECT doc_id FROM cov)),
      kept AS (SELECT pos.doc_id, pos.p, pos.ws[pos.p] AS wd
               FROM pos LEFT JOIN cov ON cov.doc_id = pos.doc_id AND cov.j = pos.p
               WHERE cov.j IS NULL),
      cleaned AS (SELECT doc_id, string_agg(wd, ' ' ORDER BY p) AS ct
                  FROM kept GROUP BY 1),
      isl AS (SELECT c1.doc_id, count(*) AS ni FROM cov c1
              LEFT JOIN cov c0 ON c0.doc_id = c1.doc_id AND c0.j = c1.j - 1
              WHERE c0.j IS NULL GROUP BY 1),
      rw AS (SELECT doc_id, count(*) AS nr FROM cov GROUP BY 1)
      SELECT rw.doc_id, CAST(isl.ni AS BIGINT) AS n_spans,
        CAST(rw.nr AS BIGINT) AS n_removed_words,
        md5(coalesce(c.ct, '')) AS cleaned_md5
      FROM rw JOIN isl ON isl.doc_id = rw.doc_id
      LEFT JOIN cleaned c ON c.doc_id = rw.doc_id
      ORDER BY rw.doc_id""")),

    // -- Image perceptual-hash near-dup (m11): 64-bit aHash through the
    // REAL ImageIO decode path (the multimodal twin of SimHash d06), then
    // near-dup pairs at hamming ≤ 2 via a 4×16-bit banded equi-join —
    // LOSSLESS for this radius by pigeonhole (2 bit-errors corrupt ≤ 2 of
    // 4 bands, so ≥1 band still matches exactly), which is the 100-TB
    // plan: never all-pairs. The PNG fixtures form near-dup families
    // (block pattern by doc_id%7, one flipped block by doc_id%3, per-pixel
    // noise) so within-family hamming is 0 or 2 and cross-family is large.
    // The twin recomputes the closed-form pixels, block sums, hash bits,
    // and the NAIVE all-pairs hamming — equal results prove banding loses
    // nothing.
    ("m11_image_ahash", (s, dir) => {
      val sp = s
      import sp.implicits._
      val hashes = t(s, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") < 300).as[Long].map { id =>
          val fam = (id % 7).toInt; val vr = (id % 3).toInt
          val png = engine.Multimodal.grayPng(32, 32) { (x, y) =>
            val bx = x / 4; val by = y / 4
            val on = ((bx * 3 + by * 5 + fam * 7) % 16) < 8
            val flip = bx == vr && by == vr
            val base = if (on ^ flip) 200 else 40
            base + ((id * 13 + x * 7 + y * 11) % 7).toInt
          }
          val p = engine.Multimodal.aHashParts(png)
          (id, p(0), p(1))
        }.toDF("doc_id", "h_lo", "h_hi")
      val bands = hashes.select(col("doc_id"), col("h_lo"), col("h_hi"),
          explode(expr("""array(
            named_struct('bi', 0, 'bv', h_lo % 65536),
            named_struct('bi', 1, 'bv', h_lo div 65536),
            named_struct('bi', 2, 'bv', h_hi % 65536),
            named_struct('bi', 3, 'bv', h_hi div 65536))""")).as("b"))
        .select(col("doc_id"), col("h_lo"), col("h_hi"),
          col("b.bi").as("bi"), col("b.bv").as("bv"))
      val cand = bands.as("l").join(bands.as("r"),
          col("l.bi") === col("r.bi") && col("l.bv") === col("r.bv") &&
          col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("a"), col("r.doc_id").as("b2"),
          col("l.h_lo").as("alo"), col("l.h_hi").as("ahi"),
          col("r.h_lo").as("blo"), col("r.h_hi").as("bhi"))
        .distinct()
      val pairs = cand
        .where(expr("bit_count(alo ^ blo) + bit_count(ahi ^ bhi) <= 2"))
        .select(col("a"), col("b2"))
      val und = pairs.select(col("a").as("doc_id"), col("b2").as("o"))
        .unionByName(pairs.select(col("b2").as("doc_id"), col("a").as("o")))
      val agg0 = und.groupBy("doc_id")
        .agg(count("*").as("nn"), min("o").as("nm"))
      hashes.join(agg0, Seq("doc_id"), "left")
        .select(col("doc_id"), col("h_lo"), col("h_hi"),
          coalesce(col("nn"), lit(0L)).as("n_near"),
          coalesce(col("nm"), lit(-1L)).as("near_min"))
        .orderBy("doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id, doc_id % 7 AS fam, doc_id % 3 AS vr
                 FROM documents WHERE doc_id < 300),
      px AS (SELECT doc_id, fam, vr, xs.x AS x, ys.y AS y FROM d,
              (SELECT unnest(generate_series(0, 31)) AS x) xs,
              (SELECT unnest(generate_series(0, 31)) AS y) ys),
      pv AS (SELECT doc_id, (y // 4) * 8 + (x // 4) AS b,
              (CASE WHEN ((((x // 4) * 3 + (y // 4) * 5 + fam * 7) % 16 < 8)
                          <> ((x // 4 = vr) AND (y // 4 = vr)))
                    THEN 200 ELSE 40 END)
              + (doc_id * 13 + x * 7 + y * 11) % 7 AS v
             FROM px),
      bsum AS (SELECT doc_id, b, sum(v) AS bs, count(*) AS bn FROM pv GROUP BY 1, 2),
      tot AS (SELECT doc_id, sum(v) AS total FROM pv GROUP BY 1),
      bits AS (SELECT bsum.doc_id, b,
                 CASE WHEN bs * 1024 > total * bn THEN 1 ELSE 0 END AS bit
               FROM bsum JOIN tot ON tot.doc_id = bsum.doc_id),
      hx AS (SELECT doc_id,
               CAST(sum(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << b)
                        ELSE 0 END) AS BIGINT) AS h_lo,
               CAST(sum(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (b - 32))
                        ELSE 0 END) AS BIGINT) AS h_hi
             FROM bits GROUP BY 1),
      pr AS (SELECT a.doc_id AS a, b.doc_id AS b,
               bit_count(xor(a.h_lo, b.h_lo)) + bit_count(xor(a.h_hi, b.h_hi)) AS hd
             FROM hx a JOIN hx b ON a.doc_id < b.doc_id),
      e AS (SELECT a, b FROM pr WHERE hd <= 2),
      und AS (SELECT a AS doc_id, b AS o FROM e UNION ALL SELECT b AS doc_id, a AS o FROM e),
      agg AS (SELECT doc_id, count(*) AS n_near, min(o) AS near_min FROM und GROUP BY 1)
      SELECT hx.doc_id, hx.h_lo, hx.h_hi,
        CAST(coalesce(agg.n_near, 0) AS BIGINT) AS n_near,
        CAST(coalesce(agg.near_min, -1) AS BIGINT) AS near_min
      FROM hx LEFT JOIN agg ON agg.doc_id = hx.doc_id ORDER BY hx.doc_id""")),

    // -- Filtered ANN (e09): vector search under a metadata predicate —
    // top-k cosine restricted to candidates with the QUERY'S label (the
    // "filtered vector search" shape every retrieval pipeline needs).
    // The predicate becomes the JOIN KEY: a broadcast hash join on label
    // replaces e01's cross join, cutting candidates 10× before any
    // scoring — the pre-filter plan, never post-filtering a top-k.
    ("e09_filtered_ann", (s, dir) => {
      prep(s)
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
        .withColumn("norm", expr("vec_norm(embedding)"))
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("label").as("ql"),
          col("embedding").as("qe"), col("norm").as("qn"))
      val p = e.select(col("vec_id").as("pid"), col("label").as("pl"),
        col("embedding").as("pe"), col("norm").as("pn"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("pid").asc)
      broadcast(q).join(p, col("ql") === col("pl") && col("qid") =!= col("pid"))
        .withColumn("cos", expr("vec_dot(qe, pe)") / (col("qn") * col("pn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select(col("qid"), col("pid"), col("rank"),
          expr("CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)").as("cos_u"))
        .orderBy("qid", "rank")
    }, Some("""
      WITH e AS (SELECT vec_id, label, embedding,
              sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
            FROM embeddings),
      c AS (SELECT q.vec_id AS qid, p.vec_id AS pid,
              list_sum(list_transform(generate_series(1, len(q.embedding)),
                i -> CAST(q.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)))
              / (q.norm * p.norm) AS cos
            FROM e q JOIN e p ON q.label = p.label AND q.vec_id <> p.vec_id
            WHERE q.vec_id < 20),
      r AS (SELECT qid, pid, cos, CAST(row_number() OVER
              (PARTITION BY qid ORDER BY cos DESC, pid) AS BIGINT) AS rank FROM c)
      SELECT qid, pid, rank, CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_u
      FROM r WHERE rank <= 3 ORDER BY qid, rank""")),

    // -- Concat-and-chunk token indexing (d18): the GPT training-data
    // packing step — concatenate docs in doc_id order with one EOS each,
    // cut into 512-token sequences, and index every doc's global token
    // offset and chunk range. The engine computes the global prefix sum
    // with NO global window (the single-task trap): deterministic ordered
    // buckets → one bounded per-bucket total aggregation → broadcast
    // exclusive offsets → map-only local scans. The twin IS the global
    // window — equality proves the two-pass distributed scan exact.
    ("d18_token_chunks", (s, dir) => {
      engine.TokenPack.chunkIndex(
          t(s, dir, "documents").select("doc_id", "text"), budget = 512)
        .orderBy("doc_id")
    }, Some("""
      WITH tk AS (SELECT doc_id,
              CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nt
            FROM documents),
      pf AS (SELECT doc_id, nt,
              coalesce(sum(nt + 1) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
             FROM tk)
      SELECT doc_id, nt AS n_tokens, CAST(start AS BIGINT) AS start_tok,
             CAST(start // 512 AS BIGINT) AS first_chunk,
             CAST((start + greatest(nt - 1, 0)) // 512 AS BIGINT) AS last_chunk
      FROM pf ORDER BY doc_id""")),

    // -- Content-hash split assignment (d19): leakage-proof train/val/test
    // partitioning — the split key is md5 of the CONTENT, not the id, so
    // byte-identical duplicates land in the same split by construction
    // (id-based splits leak dups across train/test). ~90/5/5 via hex-string
    // thresholds on the first two nibbles ('e6' = 230/256, 'f3' = 243/256),
    // compared as ASCII so any engine reproduces it; a seeded variant
    // ('v1:' prefix) shows resplittability without touching the ids.
    // Map-only at any scale.
    ("d19_split_assign", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("h2", expr("substring(md5(text), 1, 2)"))
        .withColumn("s2", expr("substring(md5(concat('v1:', text)), 1, 2)"))
        .select(col("doc_id"), col("h2"),
          expr("CASE WHEN h2 < 'e6' THEN 'train' WHEN h2 < 'f3' THEN 'val' " +
            "ELSE 'test' END").as("split"),
          expr("CASE WHEN s2 < 'e6' THEN 'train' WHEN s2 < 'f3' THEN 'val' " +
            "ELSE 'test' END").as("split_v1"))
        .orderBy("doc_id")
    }, Some("""
      WITH h AS (SELECT doc_id, substr(md5(text), 1, 2) AS h2,
                   substr(md5('v1:' || text), 1, 2) AS s2 FROM documents)
      SELECT doc_id, h2,
        CASE WHEN h2 < 'e6' THEN 'train' WHEN h2 < 'f3' THEN 'val'
             ELSE 'test' END AS split,
        CASE WHEN s2 < 'e6' THEN 'train' WHEN s2 < 'f3' THEN 'val'
             ELSE 'test' END AS split_v1
      FROM h ORDER BY doc_id""")),

    // -- Streaming sessionization (s06): Spark-native session_window +
    // watermark (store-managed bounded session state — the streaming twin
    // of the batch s02 window-chain), with sessions merging ACROSS
    // checkpoint restarts as the four monotone time slices arrive. The
    // twin replays session_window's strict-gap rule (new session iff the
    // inter-event gap ≥ 1800 s, microsecond-exact).
    ("s06_stream_sessions", (s, dir) => {
      streaming.StreamJobs.streamSessionize(s, s"$dir/events.parquet",
        "/tmp/graft_s06_work")
    }, Some("""
      WITH l AS (SELECT user_id, ts, value, event_id,
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p
            FROM events),
      f AS (SELECT *, CASE WHEN p IS NULL
              OR epoch_us(ts) - epoch_us(p) >= 1800000000 THEN 1 ELSE 0 END AS ns
            FROM l),
      g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sn FROM f)
      SELECT user_id,
        CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
        count(*) AS n_events,
        CAST(CAST(floor(epoch(max(ts))) AS BIGINT)
             - CAST(floor(epoch(min(ts))) AS BIGINT) AS BIGINT) AS dur_s,
        CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM g GROUP BY user_id, sn ORDER BY user_id, start_s"""))
  )
}
