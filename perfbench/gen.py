"""Seeded inputs and DuckDB oracle signatures for the spatial-engine benchmark.

Every coordinate follows the exactness rules of graft.synth.Synth: points sit
on the 2^-10 degree lattice and box edges at integer + 2^-12, so no point lies
on a box edge and no pixel centre lies on a box edge; the engine (JTS,
scanline) and the SQL oracle therefore agree bit for bit.

A workload's shape (sizes, hot-spot share, giant-box share, ring rounds) is
fixed; the seed only moves the data. The oracle never calls the program: it is
brute-force DuckDB SQL adapted from SparkEntry.oracleSql (q52, q51, q14, q33),
reduced to a row count plus an order-independent row hash that
graftbench.RowHash recomputes on the engine's output.
"""
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa

LATTICE = 1024.0       # points: multiples of 2^-10 degree
EDGE = 1.0 / 4096.0    # box edges: integer + 2^-12 degree
FILES = 8              # big tables are split into this many parquet files

# row hash: x = (sum_i (c_i mod P) * K_i) mod P, h = (x*x + x) mod P.
# Inputs are non-negative BIGINTs; every intermediate stays below 2^63.
P = 2147483647
K = [1000003, 999983, 999979, 999961, 999959, 999953, 999931, 999917]

# Workload sizes; the seed never changes them.
SIZES = {
    "pip_docs": {"docs": 8000, "regions": 3000, "zoom": 7},
    "geom_selfjoin": {"polygons": 3000},
    "knn_ring": {"points": 16000, "clusters": 32, "queries": 128, "k": 5},
    "raster_tiles": {"clusters": 40, "boxes_per_cluster": 6, "zoom": 4},
}
WORKLOADS = list(SIZES)


def row_hash_sql(cols):
    lin = " + ".join(f"((CAST({c} AS BIGINT) % {P}) * {K[i]})" for i, c in enumerate(cols))
    x = f"(({lin}) % {P})"
    return f"(({x} * {x} + {x}) % {P})"


def signature(con, sql, cols):
    n, h = con.execute(
        f"SELECT count(*), CAST(coalesce(sum({row_hash_sql(cols)}), 0) AS BIGINT) FROM ({sql})"
    ).fetchone()
    return int(n), int(h)


def _table(con, name, select, cols):
    """Create DuckDB table `name` from numpy columns via `select` over them."""
    con.register("_cols", pa.table(cols))
    con.execute(f"CREATE OR REPLACE TABLE {name} AS {select} FROM _cols")
    con.unregister("_cols")


def _rng(seed, workload):
    return np.random.default_rng([seed, WORKLOADS.index(workload) + 1])


def _boxes(rng, n, avoid=None):
    """The Synth box law: integer corners + 2^-12, a giant every 97th box.
    Boxes that would overlap the `avoid` envelope are drawn again, so a
    region reserved for fixed boxes keeps the same coverage on every seed."""
    giant = np.arange(n) % 97 == 0
    w = np.where(giant, 25, rng.integers(2, 9, n))
    h = np.where(giant, 18, rng.integers(1, 6, n))
    x0 = rng.integers(-170, 170 - w) + EDGE
    y0 = rng.integers(-75, 75 - h) + EDGE
    if avoid is not None:
        ax0, ay0, ax1, ay1 = avoid
        bad = (x0 <= ax1) & (x0 + w >= ax0) & (y0 <= ay1) & (y0 + h >= ay0)
        while bad.any():
            x0[bad] = rng.integers(-170, 170 - w[bad]) + EDGE
            y0[bad] = rng.integers(-75, 75 - h[bad]) + EDGE
            bad = (x0 <= ax1) & (x0 + w >= ax0) & (y0 <= ay1) & (y0 + h >= ay0)
    return x0, y0, x0 + w, y0 + h


def _write_boxes(con, path, ids, x0, y0, x1, y1):
    _table(con, "boxes", "SELECT id::BIGINT AS box_id, x0 AS xmin, y0 AS ymin, "
           "x1 AS xmax, y1 AS ymax", {"id": ids, "x0": x0, "y0": y0, "x1": x1, "y1": y1})
    con.execute(
        "COPY (SELECT box_id AS region_id, printf('POLYGON((%.12f %.12f, %.12f %.12f, "
        "%.12f %.12f, %.12f %.12f, %.12f %.12f))', xmin, ymin, xmax, ymin, xmax, ymax, "
        f"xmin, ymax, xmin, ymin) AS wkt FROM boxes ORDER BY box_id) TO '{path}' (FORMAT parquet)")


def _copy_split(con, select, key, out_dir):
    """COPY `select` (which holds a `{where}` slot) into FILES parquet files."""
    os.makedirs(out_dir)
    for f in range(FILES):
        where = f"WHERE {key} % {FILES} = {f}"
        con.execute(f"COPY ({select.format(where=where)} ORDER BY {key}) "
                    f"TO '{out_dir}/part-{f}.parquet' (FORMAT parquet)")


def gen_pip_docs(con, seed, out):
    s = SIZES["pip_docs"]
    rng = _rng(seed, "pip_docs")
    n_spans = rng.integers(4, 11, s["docs"])
    doc_key = np.repeat(np.arange(1, s["docs"] + 1), n_spans)
    pos = np.concatenate([np.arange(k) for k in n_spans])
    n = len(doc_key)
    lon = rng.integers(0, 368640, n) / LATTICE - 180.0
    lat = rng.integers(0, 163840, n) / LATTICE - 80.0
    # exactly 10% of spans fall in a 0.5-degree square inside one zoom-7 cell
    cell = 180.0 / (1 << s["zoom"])
    hx = -180.0 + rng.integers(8, 248) * cell
    hy = 90.0 - rng.integers(16, 112) * cell
    hot = rng.permutation(n)[: n // 10]
    lon[hot] = hx + 0.25 + rng.integers(0, 512, len(hot)) / LATTICE
    lat[hot] = hy - 1.0 + rng.integers(0, 512, len(hot)) / LATTICE
    _table(con, "spans", "SELECT doc_key::BIGINT AS doc_key, pos::INTEGER AS pos, lon, lat",
           {"doc_key": doc_key, "pos": pos, "lon": lon, "lat": lat})
    _copy_split(con,
        "SELECT printf('doc-%09d', doc_key) AS doc_id, list(struct_pack("
        "kind := CASE WHEN pos % 4 = 3 THEN 'media' ELSE 'text' END, "
        "text := CASE WHEN pos % 4 = 3 THEN '' ELSE printf('POINT(%.10f %.10f)', lon, lat) END, "
        "media_ref := CASE WHEN pos % 4 = 3 THEN printf('tile://8/%d/%d/1', "
        "CAST(floor((lon + 180.0) / 360.0 * 512) AS BIGINT), "
        "CAST(floor((90.0 - lat) / 180.0 * 256) AS BIGINT)) ELSE '' END, "
        "\"offset\" := pos) ORDER BY pos) AS spans FROM spans {where} GROUP BY doc_key",
        "doc_key", f"{out}/docs")
    # regions: the box law, kept off the hot cell, plus four 4x4 boxes that
    # each hold the whole hot square, so every hot point matches exactly four
    x0, y0, x1, y1 = _boxes(rng, s["regions"], avoid=(hx, hy - cell, hx + cell, hy))
    a = rng.integers(1, 3, 4)
    b = rng.integers(1, 3, 4)
    hx0 = np.floor(hx + 0.25) - a + EDGE
    hy0 = np.floor(hy - 1.0) - b + EDGE
    _write_boxes(con, f"{out}/regions.parquet", np.arange(s["regions"] + 4),
                 np.concatenate([x0, hx0]), np.concatenate([y0, hy0]),
                 np.concatenate([x1, hx0 + 4]), np.concatenate([y1, hy0 + 4]))
    # q52: brute-force range join, then the zoom-12 tile of every match
    sql = ("SELECT p.doc_key, p.pos, b.box_id, "
           "least(greatest(floor((p.lon + 180.0) / 360.0 * 8192), 0), 8191) AS tx, "
           "least(greatest(floor((90.0 - p.lat) / 180.0 * 4096), 0), 4095) AS ty "
           "FROM spans p JOIN boxes b ON p.lon > b.xmin AND p.lon < b.xmax "
           "AND p.lat > b.ymin AND p.lat < b.ymax WHERE p.pos % 4 <> 3")
    n_text = int(np.sum(pos % 4 != 3))
    n_hot_text = int(np.sum(pos[hot] % 4 != 3))
    sizes = {"docs": s["docs"], "spans": n, "points": n_text,
             "regions": s["regions"] + 4, "hot_share": round(n_hot_text / n_text, 4)}
    return sizes, s["docs"], signature(con, sql, ["doc_key", "pos", "box_id", "tx", "ty"])


def gen_geom_selfjoin(con, seed, out):
    s = SIZES["geom_selfjoin"]
    rng = _rng(seed, "geom_selfjoin")
    x0, y0, x1, y1 = _boxes(rng, s["polygons"])
    _write_boxes(con, f"{out}/regions.parquet", np.arange(s["polygons"]), x0, y0, x1, y1)
    # q51: closed-interval overlap (JTS counts a boundary touch) and the
    # overlap area, exact on 2^-12-aligned corners, scaled to an integer
    sql = ("SELECT a.box_id AS id_a, b.box_id AS id_b, "
           "CAST(greatest(least(a.xmax, b.xmax) - greatest(a.xmin, b.xmin), 0) "
           "* greatest(least(a.ymax, b.ymax) - greatest(a.ymin, b.ymin), 0) * 16777216 AS BIGINT) "
           "AS area24 FROM boxes a JOIN boxes b ON a.box_id < b.box_id "
           "AND a.xmin <= b.xmax AND b.xmin <= a.xmax AND a.ymin <= b.ymax AND b.ymin <= a.ymax")
    sizes = {"polygons": s["polygons"], "giant_share": round(len(range(0, s["polygons"], 97)) / s["polygons"], 4)}
    return sizes, s["polygons"], signature(con, sql, ["id_a", "id_b", "area24"])


def gen_knn_ring(con, seed, out):
    """Clusters of radius 0.5 degree on a 24-degree site lattice. Dense
    queries sit inside a cluster (one ring round); sparse ones sit 3.5-4.5
    degrees from a cluster centre, so at zoom 7 (1.40625-degree cells) rings
    of radius 1 and 2 cannot prove their 5th neighbour and radius 4 can:
    every seed needs exactly three rounds."""
    s = SIZES["knn_ring"]
    rng = _rng(seed, "knn_ring")
    sites = np.array([(-156 + 24 * i, -48 + 24 * j) for i in range(14) for j in range(5)], float)
    centres = sites[rng.permutation(len(sites))[: s["clusters"]]]
    centres += rng.integers(-2048, 2049, centres.shape) / LATTICE
    per = s["points"] // s["clusters"]

    def around(c, r_lo, r_hi, m):
        ang = rng.random(m) * 2 * np.pi
        r = r_lo + (r_hi - r_lo) * np.sqrt(rng.random(m))
        return (np.round((c[:, 0] + r * np.cos(ang)) * LATTICE) / LATTICE,
                np.round((c[:, 1] + r * np.sin(ang)) * LATTICE) / LATTICE)

    plon, plat = around(np.repeat(centres, per, axis=0), 0.0, 0.5, per * s["clusters"])
    n_sparse = s["queries"] // 4
    n_dense = s["queries"] - n_sparse
    dlon, dlat = around(centres[rng.integers(0, s["clusters"], n_dense)], 0.0, 0.4, n_dense)
    slon, slat = around(centres[rng.integers(0, s["clusters"], n_sparse)], 3.5, 4.5, n_sparse)
    _table(con, "pts", "SELECT pt_id::BIGINT AS pt_id, lon, lat",
           {"pt_id": np.arange(len(plon)), "lon": plon, "lat": plat})
    _table(con, "qs", "SELECT q_id::BIGINT AS q_id, lon, lat",
           {"q_id": np.arange(s["queries"]), "lon": np.concatenate([dlon, slon]),
            "lat": np.concatenate([dlat, slat])})
    _copy_split(con, "SELECT pt_id, lon, lat FROM pts {where}", "pt_id", f"{out}/points")
    con.execute(f"COPY (SELECT * FROM qs ORDER BY q_id) TO '{out}/queries.parquet' (FORMAT parquet)")
    # q14: every query against every point, ranked by (dist^2, pt_id)
    sql = ("SELECT q_id, pt_id, rnk FROM (SELECT q.q_id, p.pt_id, row_number() OVER ("
           "PARTITION BY q.q_id ORDER BY (p.lon-q.lon)*(p.lon-q.lon) + (p.lat-q.lat)*(p.lat-q.lat), "
           f"p.pt_id) AS rnk FROM qs q CROSS JOIN pts p) WHERE rnk <= {s['k']}")
    sizes = {"points": len(plon), "queries": s["queries"], "sparse_queries": n_sparse,
             "clusters": s["clusters"]}
    return sizes, s["queries"], signature(con, sql, ["q_id", "pt_id", "rnk"])


def gen_raster_tiles(con, seed, out):
    """Clusters of overlapping boxes, rasterized at zoom 4 (64x64 tiles,
    0.17578125-degree pixels, 2048x1024 pixel grid). A pixel burns when its
    centre lies strictly inside a box; no centre can lie on an edge."""
    s = SIZES["raster_tiles"]
    rng = _rng(seed, "raster_tiles")
    n = s["clusters"] * s["boxes_per_cluster"]
    cx = np.repeat(rng.integers(-160, 156, s["clusters"]), s["boxes_per_cluster"])
    cy = np.repeat(rng.integers(-70, 66, s["clusters"]), s["boxes_per_cluster"])
    x0 = cx + rng.integers(0, 5, n) + EDGE
    y0 = cy + rng.integers(0, 5, n) + EDGE
    x1 = x0 + rng.integers(1, 6, n)
    y1 = y0 + rng.integers(1, 6, n)
    _write_boxes(con, f"{out}/regions.parquet", np.arange(n), x0, y0, x1, y1)
    grid_w = 64 << (s["zoom"] + 1)
    grid_h = 64 << s["zoom"]
    pw = 360.0 / grid_w
    # q33: rectangles of burned pixels, 4-adjacency closure, per-component stats
    sql = f"""
      WITH rect AS (
        SELECT box_id AS id,
          CAST(ceil((xmin + 180.0) / {pw} - 0.5) AS BIGINT) AS gx0,
          CAST(floor((xmax + 180.0) / {pw} - 0.5) AS BIGINT) AS gx1,
          CAST(ceil((90.0 - ymax) / {pw} - 0.5) AS BIGINT) AS gy0,
          CAST(floor((90.0 - ymin) / {pw} - 0.5) AS BIGINT) AS gy1
        FROM boxes),
      edges AS (
        SELECT a.id AS a, b.id AS b FROM rect a JOIN rect b ON a.id <> b.id
          AND ((a.gx0 <= b.gx1 + 1 AND b.gx0 <= a.gx1 + 1 AND a.gy0 <= b.gy1 AND b.gy0 <= a.gy1)
            OR (a.gx0 <= b.gx1 AND b.gx0 <= a.gx1 AND a.gy0 <= b.gy1 + 1 AND b.gy0 <= a.gy1 + 1))),
      reach AS (
        WITH RECURSIVE r(id, root) AS (
          SELECT id, id FROM rect
          UNION
          SELECT e.b, r.root FROM r JOIN edges e ON e.a = r.id WHERE r.root < e.b
        ) SELECT * FROM r),
      comp AS (SELECT id, min(root) AS comp FROM reach GROUP BY id),
      px AS (
        SELECT DISTINCT comp, gx, unnest(range(gy0, gy1 + 1)) AS gy FROM (
          SELECT c.comp, unnest(range(r.gx0, r.gx1 + 1)) AS gx, r.gy0, r.gy1
          FROM rect r JOIN comp c ON c.id = r.id))
      SELECT min(gy * {grid_w} + gx) AS label, count(*) AS n_pixels,
        min(gx) AS min_gx, max(gx) AS max_gx, min(gy) AS min_gy, max(gy) AS max_gy,
        min(gy) * 8 // {grid_h} AS band
      FROM px GROUP BY comp"""
    cols = ["label", "n_pixels", "min_gx", "max_gx", "min_gy", "max_gy", "band"]
    sig = signature(con, sql, cols)
    sizes = {"polygons": n, "clusters": s["clusters"], "components": sig[0]}
    return sizes, n, sig


def gen_kernel_inputs(con, seed, out):
    """Spark-free kernel loop inputs: lattice points and box-law polygons."""
    rng = np.random.default_rng([seed, 99])
    n = 8192
    _table(con, "kpts", "SELECT lon, lat", {"lon": rng.integers(0, 368640, n) / LATTICE - 180.0,
                                            "lat": rng.integers(0, 163840, n) / LATTICE - 80.0})
    con.execute(f"COPY kpts TO '{out}/kernel_points.parquet' (FORMAT parquet)")
    x0, y0, x1, y1 = _boxes(rng, 512)
    _write_boxes(con, f"{out}/kernel_boxes.parquet", np.arange(512), x0, y0, x1, y1)


GENERATORS = {
    "pip_docs": gen_pip_docs,
    "geom_selfjoin": gen_geom_selfjoin,
    "knn_ring": gen_knn_ring,
    "raster_tiles": gen_raster_tiles,
}


def generate(workload, seed, out):
    """Write the workload's parquet inputs under `out` and return
    (input sizes, items per iteration, (rows, hash) oracle signature)."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        res = GENERATORS[workload](con, seed, out)
        gen_kernel_inputs(con, seed, out)
        return res
    finally:
        con.close()
