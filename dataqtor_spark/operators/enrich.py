"""Enrichment operators (SURVEY.md §2.8 F10–F13, §2.3 J1/J2).

The reference's per-row dict lookups (/root/reference/home.py:1803,1889,
1921-1927) become broadcast left joins against parquet dimension tables
(built by tools/build_dims.py from the reference's literal data).  The dims
are tiny (81 cities, ~12.7k names) so Catalyst always broadcasts — an
explicit ``broadcast()`` hint makes that a guarantee, not a heuristic, and
the join never shuffles the fact table at any scale.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DIMS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "dims", "data")


# The dims' declared schemas: a parquet read without one runs a schema
# inference job on every call.  tests/test_repair_enrich.py checks them
# against the files' footers.
CITY_SCHEMA = "city string, latitude double, longitude double"
NAME_GENDER_SCHEMA = "first_name string, gender string"


def city_dim(spark: SparkSession) -> DataFrame:
    """(city, latitude, longitude) — 81 rows."""
    return spark.read.schema(CITY_SCHEMA).parquet(os.path.join(DIMS_DIR, "city.parquet"))


def name_gender_dim(spark: SparkSession) -> DataFrame:
    """(first_name, gender['E'|'K'|'U']) — 12,744 rows."""
    return spark.read.schema(NAME_GENDER_SCHEMA).parquet(
        os.path.join(DIMS_DIR, "name_gender.parquet"))


# --- J2/F12 — gender from first name (home.py:1921-1927) -------------------

def enrich_gender(df: DataFrame, name_col: str, spark: SparkSession | None = None,
                  dim: DataFrame | None = None) -> DataFrame:
    """New column ``Gender_<col>``: first space-delimited token mapped
    through the name→gender dim; NULL on miss (``Series.map`` semantics —
    differs from the lat/lon passthrough, per the reference)."""
    dim = dim if dim is not None else name_gender_dim(spark or df.sparkSession)
    first = F.split(F.col(name_col), " ", 2).getItem(0)
    out_col = f"Gender_{name_col}"
    dim2 = dim.select(F.col("first_name").alias("__fn"),
                      F.col("gender").alias(out_col))
    return (df.withColumn("__fn", first)
            .join(F.broadcast(dim2), on="__fn", how="left")
            .drop("__fn"))


# --- J1/F13 — latitude/longitude from city (home.py:1719-1891) -------------

def enrich_latlon(df: DataFrame, city_col: str, spark: SparkSession | None = None,
                  dim: DataFrame | None = None, miss: str = "null") -> DataFrame:
    """New columns ``Latitude_<col>`` / ``Longitude_<col>``.

    ``miss='null'`` (default): typed DOUBLE columns, NULL on miss.
    ``miss='passthrough'``: the reference's exact semantics — the original
    (string) value flows through on miss (home.py:1803-1804), which forces
    the output columns to STRING.  Kept for parity; the typed default is
    what a schema-ful engine should do.
    """
    dim = dim if dim is not None else city_dim(spark or df.sparkSession)
    lat_col, lon_col = f"Latitude_{city_col}", f"Longitude_{city_col}"
    dim2 = dim.select(F.col("city").alias("__city"),
                      F.col("latitude").alias("__lat"),
                      F.col("longitude").alias("__lon"))
    joined = (df.withColumn("__city", F.col(city_col))
              .join(F.broadcast(dim2), on="__city", how="left")
              .drop("__city"))
    if miss == "passthrough":
        joined = (joined
                  .withColumn(lat_col, F.coalesce(F.col("__lat").cast("string"),
                                                  F.col(city_col).cast("string")))
                  .withColumn(lon_col, F.coalesce(F.col("__lon").cast("string"),
                                                  F.col(city_col).cast("string"))))
    else:
        joined = (joined.withColumn(lat_col, F.col("__lat"))
                  .withColumn(lon_col, F.col("__lon")))
    return joined.drop("__lat", "__lon")


# --- F10 — age / anniversary from ddMMyyyy strings (home.py:1893-1919) -----

def enrich_age(df: DataFrame, col: str, as_of: datetime.date | None = None,
               out_prefix: str = "Age_") -> DataFrame:
    """Parse ``ddMMyyyy`` strictly; dates in the future get 100 years
    subtracted (the reference's 2-digit-pivot repair, home.py:1898-1900);
    age = whole calendar years elapsed.

    Fidelity note: the reference computes years as
    ``floor(timedelta / mean_year_length)`` (numpy ``<m8[Y]``); we compute
    true calendar age — same value except within a day or two of a
    birthday around leap boundaries.  ``as_of`` pins "now" for
    reproducibility (defaults to current_date).
    """
    now = F.lit(as_of) if as_of is not None else F.current_date()
    d = F.try_to_timestamp(F.col(col).cast("string"), F.lit("ddMMyyyy")).cast("date")
    d = F.when(d >= now, F.add_months(d, -1200)).otherwise(d)
    # explicit calendar-age formula (no months_between end-of-month edge):
    # years diff, minus 1 if the birthday hasn't occurred yet this year
    not_yet = (
        (F.month(d) > F.month(now))
        | ((F.month(d) == F.month(now)) & (F.dayofmonth(d) > F.dayofmonth(now)))
    ).cast("int")
    age = (F.year(now) - F.year(d) - not_yet).cast("int")
    return df.withColumn(f"{out_prefix}{col}", age)


# --- F11 — date parts (home.py:1929-1962) ----------------------------------

def enrich_date_parts(df: DataFrame, col: str,
                      parts: list[str] | None = None) -> DataFrame:
    """Add Day/Weekday/Month/Year/Quarter/WeekofYear columns.

    Weekday is the English day name (the reference's weekday_dict,
    home.py:1936-1945); WeekofYear is ISO week (pandas ``weekofyear``)."""
    c = F.col(col)
    all_parts = {
        "Day": F.dayofmonth(c),
        "Weekday": F.date_format(c, "EEEE"),
        "Month": F.month(c),
        "Year": F.year(c),
        "Quarter": F.quarter(c),
        "WeekofYear": F.weekofyear(c),
    }
    out = df
    for name in (parts or list(all_parts)):
        out = out.withColumn(f"{name}_{col}", all_parts[name])
    return out


def nearest_city(spark: SparkSession, top_k: int = 1) -> DataFrame:
    """For each city in the S4 lat/lon dimension (81 rows,
    /root/reference/home.py:1720-1887), its ``top_k`` nearest other
    cities by haversine great-circle distance (km, R=6371).

    The dimension is tiny, so the 81×81 pairing is a broadcast
    nested-loop cross join evaluated entirely inside codegen (trig on
    columns, no UDF); ranking is a per-city window.  The same expression
    scales to data×dim geo-tagging joins where the dim side broadcasts.
    """
    from pyspark.sql.window import Window

    dim = city_dim(spark)
    a = dim.select(F.col("city").alias("city_a"),
                   F.radians("latitude").alias("la"),
                   F.radians("longitude").alias("lo"))
    b = dim.select(F.col("city").alias("city_b"),
                   F.radians("latitude").alias("lb"),
                   F.radians("longitude").alias("lob"))
    h = (F.pow(F.sin((F.col("lb") - F.col("la")) / 2), 2)
         + F.cos("la") * F.cos("lb")
         * F.pow(F.sin((F.col("lob") - F.col("lo")) / 2), 2))
    dist = F.round(2 * 6371.0 * F.asin(F.sqrt(h)), 3)
    pairs = (a.crossJoin(F.broadcast(b))
             .filter(F.col("city_a") != F.col("city_b"))
             .select("city_a", "city_b", dist.alias("dist_km")))
    w = Window.partitionBy("city_a").orderBy(F.asc("dist_km"),
                                             F.asc("city_b"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k))


_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lat, lng, precision: int = 5):
    """Standard geohash (Niemeyer base-32) as a PURE column expression —
    the spatial blocking key for scale geo work: equal prefixes ⇒
    nearby cells, so radius joins become equi-joins on truncated hashes
    (plus the 8 neighbour cells) instead of cross products, and a
    ``groupBy(geohash)`` is a density raster.

    Construction is the integer form of the spec: quantize longitude to
    ⌈5p/2⌉ bits and latitude to ⌊5p/2⌋ bits, interleave (longitude
    first), emit 5 bits per base-32 character.  All bit-shift/mask
    arithmetic over two longs — constant-folded per precision, no UDF,
    and every step replays exactly in ANSI SQL.
    """
    nbits = 5 * precision
    nx = (nbits + 1) // 2                      # longitude bits
    ny = nbits // 2                            # latitude bits
    lat_c = F.col(lat) if isinstance(lat, str) else lat
    lng_c = F.col(lng) if isinstance(lng, str) else lng
    x = F.least(F.floor((lng_c.cast("double") + 180.0) / 360.0 * (2 ** nx)),
                F.lit(2 ** nx - 1)).cast("long")
    y = F.least(F.floor((lat_c.cast("double") + 90.0) / 180.0 * (2 ** ny)),
                F.lit(2 ** ny - 1)).cast("long")

    def bit(i: int):
        # interleaved stream, MSB first: even positions are longitude
        if i % 2 == 0:
            return F.shiftright(x, nx - 1 - i // 2).bitwiseAND(F.lit(1))
        return F.shiftright(y, ny - 1 - (i - 1) // 2).bitwiseAND(F.lit(1))

    chars = []
    b32 = F.array(*[F.lit(ch) for ch in _GEOHASH_B32])
    for k in range(precision):
        val = F.lit(0)
        for j in range(5):
            val = val + bit(5 * k + j) * F.lit(2 ** (4 - j))
        chars.append(F.element_at(b32, (val + 1).cast("int")))
    return F.concat(*chars)


def geohash_density(df: DataFrame, lat_col: str, lng_col: str,
                    precision: int = 4) -> DataFrame:
    """Spatial density raster: rows per geohash cell with the cell's
    mean coordinates — one projection + one map-side-combinable groupBy
    (the shuffle carries ≤ 32^precision cells)."""
    return (df.filter(F.col(lat_col).isNotNull()
                      & F.col(lng_col).isNotNull())
            .groupBy(geohash(lat_col, lng_col, precision).alias("cell"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.avg(F.col(lat_col).cast("double")), 4)
                 .alias("avg_lat"),
                 F.round(F.avg(F.col(lng_col).cast("double")), 4)
                 .alias("avg_lng")))


def geohash_blocked_pairs(df: DataFrame, id_col: str, lat_col: str,
                          lng_col: str, precision: int = 2,
                          max_km: float = 300.0) -> DataFrame:
    """Proximity self-join via geohash blocking: candidate pairs share a
    cell (equi-join on the hash — the scale substitute for a geo cross
    product), then exact haversine refines to ``max_km``.

    Per-cell pair expansion is quadratic in cell occupancy, bounded by
    choosing precision so cells hold O(sqrt) points (the same guard
    calculus as the dedup banding caps); pairs straddling a cell
    boundary are missed unless the 8 neighbour cells are also probed —
    the standard blocking recall trade, documented like LSH banding's.
    Distances round to 3 dp before the threshold so the filter is
    engine-reproducible."""
    cell = geohash(lat_col, lng_col, precision)
    pts = df.select(F.col(id_col).alias("id"),
                    F.radians(F.col(lat_col).cast("double")).alias("la"),
                    F.radians(F.col(lng_col).cast("double")).alias("lo"),
                    cell.alias("cell"))
    a, b = pts.alias("a"), pts.alias("b")
    dla = (F.col("b.la") - F.col("a.la")) / 2
    dlo = (F.col("b.lo") - F.col("a.lo")) / 2
    dist = F.round(
        2 * 6371.0 * F.asin(F.sqrt(
            F.pow(F.sin(dla), 2)
            + F.cos(F.col("a.la")) * F.cos(F.col("b.la"))
            * F.pow(F.sin(dlo), 2))), 3)
    return (a.join(b, (F.col("a.cell") == F.col("b.cell"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.cell").alias("cell"),
                    F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    dist.alias("dist_km"))
            .filter(F.col("dist_km") <= max_km))


def grid_density_clusters(df: DataFrame, lat_col: str, lng_col: str,
                          cell_deg: float = 10.0,
                          min_pts: int = 4) -> DataFrame:
    """Grid-density spatial clustering (DBSCAN's grid approximation):
    quantize points to ``cell_deg``-degree cells, keep cells holding
    ≥ ``min_pts`` points (core cells), union 8-neighbor-adjacent core
    cells into clusters.  Returns one row per cluster:
    ``(cluster, n_cells, n_points)`` with ``cluster`` = min cell key.

    Scale shape: ONE groupBy over the points (the only corpus-sized
    shuffle — density estimation is a counting aggregate); adjacency is
    an equi-join of each core cell against its 9 exploded neighbor
    offsets — never a cell×cell (let alone point×point) product; the
    component pass runs on core cells only, a set bounded by the grid,
    not the data."""
    cx = F.floor(F.col(lat_col) / F.lit(float(cell_deg))).cast("long")
    cy = F.floor(F.col(lng_col) / F.lit(float(cell_deg))).cast("long")
    cells = (df.select(cx.alias("cx"), cy.alias("cy"))
             .groupBy("cx", "cy")
             .agg(F.count(F.lit(1)).alias("n_points")))
    # Injective (cx, cy) -> long packing over the whole realistic domain:
    # cell = cx*2^32 + (cy + 2^31), unique while cy in [-2^31, 2^31) and
    # |cx| < 2^31 — i.e. any lat/lng grid down to sub-centimeter cells
    # (cell_deg ~1e-7), with no signed-64 overflow (|cx|*2^32 < 2^63).
    # Plain integer arithmetic so the same expression replays in any SQL
    # dialect.  (A fixed small-offset packing collides for fine grids —
    # sub-500m cells silently merged far-apart clusters.)
    key = (F.col("cx") * F.lit(4294967296).cast("long")
           + F.col("cy") + F.lit(2147483648).cast("long"))
    core = cells.filter(F.col("n_points") >= min_pts).withColumn("cell", key)
    offs = F.array(*[F.struct((F.col("cx") + dx).alias("nx"),
                              (F.col("cy") + dy).alias("ny"))
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                     if (dx, dy) != (0, 0)])
    neigh = (core.select("cell", F.explode(offs).alias("o"))
             .select("cell", F.col("o.nx").alias("cx"),
                     F.col("o.ny").alias("cy")))
    edges = (neigh.join(core.select(F.col("cell").alias("cell_b"),
                                    "cx", "cy"), ["cx", "cy"])
             .filter(F.col("cell") < F.col("cell_b"))
             .select(F.col("cell").alias("id_a"),
                     F.col("cell_b").alias("id_b")))
    from dataqtor_spark.operators.dedup import connected_components

    comp = connected_components(edges)
    labeled = (core.join(comp.withColumnRenamed("id", "cell"), "cell",
                         "left")
               .withColumn("component",
                           F.coalesce("component", F.col("cell"))))
    return (labeled.groupBy(F.col("component").alias("cluster"))
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("n_points").alias("n_points")))


def point_in_polygon_join(points: DataFrame, polygons: DataFrame,
                          id_col: str = "pt_id", x_col: str = "x",
                          y_col: str = "y") -> DataFrame:
    """Spatial containment join: ``(point id, poly_id)`` for every point
    strictly inside a polygon — even-odd ray casting, DIVISION-FREE.

    ``polygons`` is ``(poly_id, xs array<double>, ys array<double>)``
    (vertices in order, implicit closing edge).  The standard crossing
    test ``px < x1 + (x2−x1)(py−y1)/(y2−y1)`` is rewritten as the
    sign of ``(px−x1)(y2−y1) − (x2−x1)(py−y1)`` flipped by the edge
    direction, so no division ever executes — exact IEEE products make
    the test engine-reproducible AND remove the div-by-zero hazard on
    horizontal edges (ANSI mode throws; AND gives no short-circuit
    guarantee inside codegen).  Points exactly ON a boundary classify
    arbitrarily (the even-odd rule's standard caveat) but
    DETERMINISTICALLY — the same point gets the same answer on every
    engine, which is what the differential oracle needs.

    Scale shape: polygons broadcast (a polygon table is dimension-sized)
    and the test is one codegen'd aggregate over the vertex array per
    (point, bbox-candidate polygon) — the bounding-box prefilter inside
    the same BroadcastNestedLoopJoin keeps the per-point work
    proportional to polygons whose box the point actually hits.  For
    thousands of polygons, block on grid cells first (the geo03
    device) and feed each cell's candidates through this join."""
    polys = polygons.select(
        "poly_id", "xs", "ys",
        F.array_min("xs").alias("__x0"), F.array_max("xs").alias("__x1"),
        F.array_min("ys").alias("__y0"), F.array_max("ys").alias("__y1"))
    # alias the point coords to fixed internal names: the crossing test
    # is an F.expr SQL string, and raw interpolation of user column
    # names breaks (or worse, mis-resolves) on names that are not bare
    # SQL identifiers (spaces, dots, keywords)
    pts = points.withColumn("__px", F.col(x_col).cast("double")) \
                .withColumn("__py", F.col(y_col).cast("double"))
    px, py = F.col("__px"), F.col("__py")
    bbox = ((px >= F.col("__x0")) & (px <= F.col("__x1"))
            & (py >= F.col("__y0")) & (py <= F.col("__y1")))
    crossings = F.expr("""aggregate(sequence(1, size(xs)), 0, (acc, i) ->
      acc + (CASE WHEN (element_at(ys, i) > __py)
                       != (element_at(ys, i % size(ys) + 1) > __py)
                  AND ((__px - element_at(xs, i))
                        * (element_at(ys, i % size(ys) + 1)
                           - element_at(ys, i))
                       - (element_at(xs, i % size(xs) + 1)
                          - element_at(xs, i))
                         * (__py - element_at(ys, i)))
                      * (CASE WHEN element_at(ys, i % size(ys) + 1)
                                   > element_at(ys, i)
                              THEN 1.0 ELSE -1.0 END) < 0.0
             THEN 1 ELSE 0 END))""")
    return (pts.join(F.broadcast(polys), bbox)
            .withColumn("__cross", crossings)
            .filter(F.pmod(F.col("__cross"), F.lit(2)) == 1)
            .select(F.col(id_col), "poly_id"))
