"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family
(SURVEY.md §2 + north_rule spatial layer + training-data ops);
`oracle_sql()` provides the DuckDB-equivalent ANSI SQL.

Oracle-parity strategy: coordinates are DERIVED from the shared
`events` table with pure integer/rational arithmetic (bit-identical in
Spark and DuckDB), kernels with transcendental math are compared after
rounding (cm for projected meters — far above cross-libm ulp noise, far
below the reference's 0.1 mm gie tolerance which pytest covers
separately), and integer outputs (cells, tiles, counts, ranks) are
compared exactly.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# shared derived-geometry definitions (identical arithmetic in both engines)
# ---------------------------------------------------------------------------

GEO_SQL_SRC = (
    "select event_id, "
    "(event_id * 7919 % 360000) / 1000.0 - 180.0 as lon, "
    "(event_id * 104729 % 170000) / 1000.0 - 85.0 as lat "
    "from events"
)

XYZ_SQL_SRC = (
    "select event_id, "
    "4000000.0 + (event_id % 1000) as gx, "
    "1000000.0 + (event_id % 997) as gy, "
    "4500000.0 + (event_id % 991) as gz "
    "from events"
)


def _i(col, scale: float):
    """Integerized float output: round(col*scale) as bigint.

    Both engines produce an integer-valued double first (distance to the
    rounding boundary >> cross-libm ulp noise for every query here), so
    the value-hash comparison is exact-integer — independent of how the
    driver hashes doubles and of round() implementation differences.
    """
    from pyspark.sql import functions as F

    return F.round(col * scale, 0).cast("long")


def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        ((F.col("event_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat"),
    )


def _xyz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        (F.lit(4000000.0) + (F.col("event_id") % 1000)).alias("gx"),
        (F.lit(1000000.0) + (F.col("event_id") % 997)).alias("gy"),
        (F.lit(4500000.0) + (F.col("event_id") % 991)).alias("gz"),
    )


# GRS80 constants (proj_4_spark.kernels.ellipsoid), inlined for the SQL twins
_A = 6378137.0
_ES = 0.0066943800229007869
_E = 0.08181919104281579
_ONE_ES = 1.0 - _ES
_HALFPI = repr(math.pi / 2)
_D2R = "(pi() / 180.0)"


def _sql_tsfn(phi: str) -> str:
    """pj_tsfn SQL twin (src/tsfn.cpp:6-17)."""
    esin = f"({_E!r} * sin({phi}))"
    return (
        f"(tan(0.5 * ({_HALFPI} - {phi})) / "
        f"pow((1.0 - {esin}) / (1.0 + {esin}), {0.5 * _E!r}))"
    )


def _sql_etmerc_fwd_select(src_sql: str, projstring: str, lon0_deg: float,
                           x0: float, y0: float) -> str:
    """Generate a DuckDB SELECT computing the Poder-Engsager etmerc
    forward (src/projections/tmerc.cpp:334-415) with the series
    coefficients inlined as plan-time constants from the engine's own
    setup.  Uses DuckDB lateral column aliases to unroll the gatg and
    complex-Clenshaw recurrences.  Emits (event_id, fx, fy) in metres.
    """
    from proj_4_spark.engine.plan import create_operation

    op = create_operation(projstring)
    Q = op.P.opaque["exact"]
    cbg, gtu, Qn, Zb = Q["cbg"], Q["gtu"], Q["Qn"], Q["Zb"]
    steps = [
        f"(lon - {lon0_deg!r}) * {_D2R} as lam_",
        f"lat * {_D2R} as phi_",
        # gatg(cbg, phi): Clenshaw over sin(2k*phi)
        "2.0 * cos(2.0 * phi_) as g2c_",
        f"{cbg[5]!r} as gh1_0_", "0.0 as gh2_0_",
    ]
    h1, h2 = "gh1_0_", "gh2_0_"
    for s, k in enumerate(range(4, -1, -1), 1):
        steps.append(f"-{h2} + g2c_ * {h1} + {cbg[k]!r} as gh_{s}_")
        h2, h1 = h1, f"gh_{s}_"
    steps += [
        f"phi_ + gh_5_ * sin(2.0 * phi_) as cn0_",
        "sin(cn0_) as scn_", "cos(cn0_) as ccn_",
        "sin(lam_) as sce_", "cos(lam_) as cce_",
        "ccn_ * cce_ as ccc_",
        "atan2(scn_, ccc_) as cn1_",
        "1.0 / sqrt(scn_ * scn_ + ccc_ * ccc_) as invd_",
        "sce_ * ccn_ * invd_ as tce_",
        "ln(tce_ + sqrt(tce_ * tce_ + 1.0)) as ce1_",  # asinh
        "2.0 * invd_ as tid_",
        "tid_ * invd_ as tids_",
        "ccc_ * tids_ as tmpr_",
        "scn_ * tmpr_ as sar_",
        "ccc_ * tmpr_ - 1.0 as car_",
        "tce_ * tid_ as shi_",
        "tids_ - 1.0 as chi_",
        # clenS(gtu, sar_, car_, shi_, chi_)
        "2.0 * car_ * chi_ as clr_",
        "-2.0 * sar_ * shi_ as cli_",
        f"{gtu[5]!r} as hr_0_", "0.0 as hi_0_", "0.0 as hr1_0_", "0.0 as hi1_0_",
    ]
    hr, hi, hr1, hi1 = "hr_0_", "hi_0_", "hr1_0_", "hi1_0_"
    for s, k in enumerate(range(4, -1, -1), 1):
        # hr2=hr1; hi2=hi1; hr1=hr; hi1=hi; then update hr/hi
        steps.append(f"-{hr1} + clr_ * {hr} - cli_ * {hi} + {gtu[k]!r} as hr_{s}_")
        steps.append(f"-{hi1} + cli_ * {hr} + clr_ * {hi} as hi_{s}_")
        hr1, hi1, hr, hi = hr, hi, f"hr_{s}_", f"hi_{s}_"
    steps += [
        "sar_ * chi_ as fr_",
        "car_ * shi_ as fi_",
        f"fr_ * {hr} - fi_ * {hi} as dcn_",
        f"fr_ * {hi} + fi_ * {hr} as dce_",
        f"{Qn!r} * (ce1_ + dce_) * {_A!r} + {x0!r} as fx",
        f"({Qn!r} * (cn1_ + dcn_) + {Zb!r}) * {_A!r} + {y0!r} as fy",
    ]
    # One nested subselect per step: DuckDB expands lateral column
    # aliases by duplicating the expression tree, so a flat alias chain
    # over these recurrences (each step referencing the previous 2-4x)
    # blows up exponentially; nesting keeps each step computed once.
    q = f"select event_id, lon, lat from ({src_sql})"
    for s in steps:
        q = f"select *, {s} from ({q})"
    return f"select event_id, fx, fy from ({q})"


def _sql_etmerc_inv_select(src_sql: str, projstring: str,
                           x0: float, y0: float) -> str:
    """Generate a DuckDB SELECT computing the Poder-Engsager etmerc
    INVERSE (src/projections/tmerc.cpp:419-489) — complex Clenshaw
    over utg, spherical de-projection, gatg over cgb — with the series
    coefficients inlined from the engine's own setup, mirroring the
    staged Catalyst twin.  sinh is spelled via exp (DuckDB has no
    sinh; ulp-level difference only).  Emits (event_id, lam_, phi_)
    in radians relative to lon_0 + lam0 added; src must provide
    (event_id, px, py) inside the |Ce| domain (the driver grid is)."""
    from proj_4_spark.engine.plan import create_operation

    op = create_operation(projstring)
    Q = op.P.opaque["exact"]
    utg, cgb = Q["utg"], Q["cgb"]
    Qn, Zb = float(Q["Qn"]), float(Q["Zb"])
    steps = [
        f"(px - {x0!r}) / {_A!r} as xm_",
        f"(py - {y0!r}) / {_A!r} as ym_",
        f"(ym_ - {Zb!r}) / {Qn!r} as cn0_",
        f"xm_ / {Qn!r} as ce0_",
        "sin(2.0 * cn0_) as sar_",
        "cos(2.0 * cn0_) as car_",
        "exp(2.0 * ce0_) as e2c_",
        "0.5 * e2c_ - 0.5 / e2c_ as shi_",
        "0.5 * e2c_ + 0.5 / e2c_ as chi_",
        "2.0 * car_ * chi_ as clr_",
        "-2.0 * sar_ * shi_ as cli_",
        f"{float(utg[-1])!r} as hr_0_", "0.0 as hi_0_",
        "0.0 as hr1_0_", "0.0 as hi1_0_",
    ]
    hr, hi, hr1, hi1 = "hr_0_", "hi_0_", "hr1_0_", "hi1_0_"
    for s, k in enumerate(range(len(utg) - 2, -1, -1), 1):
        steps.append(f"-{hr1} + clr_ * {hr} - cli_ * {hi} + "
                     f"{float(utg[k])!r} as hr_{s}_")
        steps.append(f"-{hi1} + cli_ * {hr} + clr_ * {hi} as hi_{s}_")
        hr1, hi1, hr, hi = hr, hi, f"hr_{s}_", f"hi_{s}_"
    steps += [
        "sar_ * chi_ as rr_",
        "car_ * shi_ as ii_",
        f"cn0_ + rr_ * {hr} - ii_ * {hi} as cn1_",
        f"ce0_ + rr_ * {hi} + ii_ * {hr} as ce1_",
        "sin(cn1_) as scn_", "cos(cn1_) as ccn_",
        "exp(ce1_) as ev_",
        "0.5 * ev_ - 0.5 / ev_ as she_",
        "atan2(she_, ccn_) as ce2_",
        "sqrt(she_ * she_ + ccn_ * ccn_) as mod_",
        "atan2(scn_, mod_) as cn2_",
        "2.0 * mod_ / (she_ * she_ + 1.0) as tmp_",
        "scn_ * tmp_ as s2c_",
        "tmp_ * mod_ - 1.0 as c2c_",
        "2.0 * c2c_ as two_",
        f"{float(cgb[-1])!r} as gh1_0_", "0.0 as gh2_0_",
    ]
    h1, h2 = "gh1_0_", "gh2_0_"
    for s, k in enumerate(range(len(cgb) - 2, -1, -1), 1):
        steps.append(f"-{h2} + two_ * {h1} + {float(cgb[k])!r}"
                     f" as gh_{s}_")
        h2, h1 = h1, f"gh_{s}_"
    steps += [
        f"cn2_ + {h1} * s2c_ as phi_",
        f"ce2_ + {op.P.lam0!r} as lamr_",
        "case when abs(lamr_) < pi() + 1e-12 then lamr_ else "
        "(lamr_ + pi()) - 2.0*pi()*floor((lamr_ + pi())/(2.0*pi()))"
        " - pi() end as lam_",
    ]
    q = f"select event_id, px, py from ({src_sql})"
    for s in steps:
        q = f"select *, {s} from ({q})"
    return f"select event_id, lam_, phi_ from ({q})"


def _sql_conic_inv_select(src_sql: str, projstring: str) -> str:
    """Generate a DuckDB SELECT computing the lcc or aea ELLIPSOIDAL
    INVERSE (src/projections/lcc.cpp:46-77 / aea.cpp:121-160)
    including the same bounded, frozen-lane phi2/phi1 iterations the
    engine's staged Catalyst twin unrolls (engine/spark.py
    _sql_phi2_stages/_sql_phi1_stages): the convergence freeze is
    replicated step-for-step so both sides execute the identical
    per-lane update sequence (residual = cross-libm ulps).  Emits
    (event_id, lam_, phi_) in radians; src must provide finite
    (event_id, px, py) inside the convergent domain — the driver
    queries' synthesized grids are, so the non-finite guards of the
    engine twin are vacuous here and omitted.  One nested subselect
    per step (the lateral-alias blowup lesson, see
    _sql_etmerc_fwd_select)."""
    from proj_4_spark.engine.plan import create_operation

    op = create_operation(projstring)
    P = op.P
    Q = P.opaque
    steps = []
    if P.name == "lcc":
        n, c, rho0 = Q["n"], Q["c"], Q["rho0"]
        e, ecc = P.e, 0.5 * P.e
        steps += [
            f"(px / {P.a!r}) / {P.k0!r} as x1_",
            f"{rho0!r} - (py / {P.a!r}) / {P.k0!r} as yr_",
            "sqrt(x1_ * x1_ + yr_ * yr_) as rh_",
            f"power(rh_ / {c!r}, {1.0 / n!r}) as ts_0_",
            "false as dn_0_",
        ]
        ts, dn = "ts_0_", "dn_0_"
        for k in range(1, 15):
            steps += [
                f"case when {dn} then 0.0 else {e!r} * ((1.0 - {ts} *"
                f" {ts}) / (1.0 + {ts} * {ts})) end as cn_{k}_",
                f"case when {dn} then {ts} else ts_0_ * power((1.0 - "
                f"cn_{k}_) / (1.0 + cn_{k}_), {ecc!r}) end as ts_{k}_",
                f"(not (abs(2.0 * (ts_{k}_ - {ts})) > 1e-10))"
                f" as dn_{k}_",
            ]
            ts, dn = f"ts_{k}_", f"dn_{k}_"
        steps += [
            f"pi() / 2.0 - 2.0 * atan({ts}) as phi_",
            f"atan2(x1_, yr_) / {n!r} + {P.lam0!r} as lamr_",
        ]
    else:  # aea
        n, c, dd, rho0, ec = Q["n"], Q["c"], Q["dd"], Q["rho0"], Q["ec"]
        Te, one_es = P.e, P.one_es
        steps += [
            f"px / {P.a!r} as xm_",
            f"{rho0!r} - (py / {P.a!r}) as yy_",
            "sqrt(xm_ * xm_ + yy_ * yy_) as rh_",
            f"rh_ / {dd!r} as pr_",
            f"({c!r} - pr_ * pr_) / {n!r} as pq_",
            f"(abs({ec!r} - abs(pq_)) <= 1e-7) as al_",
            "(abs(pq_) > 2.0 and not al_) as tb_",
            "case when al_ or tb_ then 0.0 else pq_ end as qs_",
            "asin(greatest(least(0.5 * qs_, 1.0), -1.0)) as ph_0_",
            "false as dn_0_",
        ]
        ph, dn = "ph_0_", "dn_0_"
        for k in range(1, 16):
            steps += [
                f"case when {dn} then 0.0 else sin({ph}) end as sp_{k}_",
                f"case when {dn} then 1.0 else cos({ph}) end as cp_{k}_",
                f"{Te!r} * sp_{k}_ as cn_{k}_",
                f"1.0 - {Te!r} * sp_{k}_ * ({Te!r} * sp_{k}_)"
                f" as cm_{k}_",
                f"case when {dn} then 0.0 else 0.5 * cm_{k}_ * cm_{k}_"
                f" / cp_{k}_ * (qs_ / {one_es!r} - sp_{k}_ / cm_{k}_ + "
                f"{0.5 / Te!r} * ln((1.0 - cn_{k}_) / (1.0 + cn_{k}_)))"
                f" end as dp_{k}_",
                f"case when {dn} then {ph} else {ph} + dp_{k}_ end"
                f" as ph_{k}_",
                f"(not (abs(dp_{k}_) > 1e-10)) as dn_{k}_",
            ]
            ph, dn = f"ph_{k}_", f"dn_{k}_"
        steps += [
            f"case when al_ then (case when pq_ < 0.0 then -pi()/2.0 "
            f"else pi()/2.0 end) when tb_ then 'nan'::double "
            f"else {ph} end as phi_",
            f"atan2(xm_, yy_) / {n!r} + {P.lam0!r} as lamr_",
        ]
    # inv_finalize adjlon wrap (inv.cpp:117-124)
    steps.append(
        "case when abs(lamr_) < pi() + 1e-12 then lamr_ else "
        "(lamr_ + pi()) - 2.0*pi()*floor((lamr_ + pi())/(2.0*pi()))"
        " - pi() end as lam_")
    q = f"select event_id, px, py from ({src_sql})"
    for s in steps:
        q = f"select *, {s} from ({q})"
    return f"select event_id, lam_, phi_ from ({q})"


def _sql_fnv_shingles(text_expr: str = "t") -> str:
    """DuckDB list expression: all k=5 FNV-1a shingle hashes of a
    (space-padded) text column, as ubigint — the SQL twin of
    functions/dedup._shingle_batch (multiset, in window order)."""
    h = "cast(14695981039346656037 as ubigint)"
    for j in range(5):
        b = f"cast(ord(substr({text_expr}, x + {j}, 1)) as ubigint)"
        h = (f"cast((cast(xor({h}, {b}) as hugeint) * 1099511628211) "
             f"% 18446744073709551616 as ubigint)")
    return f"[{h} for x in range(1, length({text_expr}) - 3)]"


_PAD5 = ("select doc_id, case when length(text) >= 5 then text "
         "else text || repeat(' ', 5 - length(text)) end as t from documents")


def _sql_minhash_pairs(num_perm: int, bands: int, seed: int = 42) -> str:
    """DuckDB twin of functions/dedup.minhash_lsh_pairs: recomputes the
    full signature with the same (a,b) permutation constants and joins
    docs sharing any band of raw signature values (the Spark side hashes
    the band to a digest with xxhash64; equality of digests == equality
    of the band values up to a 2^-64 collision)."""
    from proj_4_spark.functions.dedup import _MERSENNE, _hash_params

    a, b = _hash_params(num_perm, seed)
    r = num_perm // bands
    sig = ", ".join(
        f"list_min([({int(a[j])} * cast(x % 2147483648 as bigint) + {int(b[j])})"
        f" % {_MERSENNE} for x in hs]) as s{j}"
        for j in range(num_perm)
    )
    band_union = " union all ".join(
        f"select doc_id, {bd} as band, "
        f"[{','.join(f's{j}' for j in range(bd * r, (bd + 1) * r))}] as key from sig"
        for bd in range(bands)
    )
    return (
        f"with base as ({_PAD5}), "
        f"sh as (select doc_id, {_sql_fnv_shingles()} as hs from base), "
        f"sig as (select doc_id, {sig} from sh), "
        f"banded as ({band_union}) "
        "select distinct a.doc_id as id_a, b.doc_id as id_b "
        "from banded a join banded b using (band, key) "
        "where a.doc_id < b.doc_id"
    )


def _sql_pip_cells() -> str:
    """DuckDB twin of the ring-polygon PIP join: the identical even-odd
    ray-crossing test (spatial/pip.point_in_ring_np, same FP expression
    order) over the committed zones fixture, via a list_filter lambda
    over the ring edges (with the implicit closing edge)."""
    from proj_4_spark.sources import fixtures as FX

    zpath = FX.ensure_fixture("zones.parquet", FX.zones_table)
    # edge i: from ring[i] to ring[i % len + 1] (1-indexed lists)
    cond = (
        "(r[i].lat > p.lat) != (r[CASE WHEN i = len(r) THEN 1 ELSE i + 1 END].lat > p.lat) "
        "AND CASE WHEN (r[i].lat > p.lat) != (r[CASE WHEN i = len(r) THEN 1 ELSE i + 1 END].lat > p.lat) "
        "THEN p.lon < r[i].lon + (p.lat - r[i].lat) "
        "  / (r[CASE WHEN i = len(r) THEN 1 ELSE i + 1 END].lat - r[i].lat) "
        "  * (r[CASE WHEN i = len(r) THEN 1 ELSE i + 1 END].lon - r[i].lon) "
        "ELSE false END"
    )
    return (
        "select zone_id, count(*) as n from ("
        f"  select z.zone_id from ({GEO_SQL_SRC}) p "
        f"  join (select zone_id, ring as r, min_lon, min_lat, max_lon, "
        f"        max_lat from parquet_scan('{zpath}')) z "
        "   on p.lon >= z.min_lon and p.lon <= z.max_lon "
        "  and p.lat >= z.min_lat and p.lat <= z.max_lat "
        f"  where len(list_filter(range(1, len(r) + 1), i -> {cond})) % 2 = 1"
        ") group by zone_id"
    )


def _sql_ngram_jaccard(num_perm: int, bands: int, threshold: float,
                       seed: int = 42) -> str:
    """DuckDB twin of functions/dedup.ngram_jaccard_pairs: LSH candidate
    pairs (same signature machinery as _sql_minhash_pairs) then exact
    Jaccard over the DISTINCT 31-bit-folded shingle sets (a rational
    inter/union — bit-identical doubles in both engines)."""
    from proj_4_spark.functions.dedup import _MERSENNE, _hash_params

    a, b = _hash_params(num_perm, seed)
    r = num_perm // bands
    sig = ", ".join(
        f"list_min([({int(a[j])} * cast(x % 2147483648 as bigint) + {int(b[j])})"
        f" % {_MERSENNE} for x in hs]) as s{j}"
        for j in range(num_perm)
    )
    band_union = " union all ".join(
        f"select doc_id, {bd} as band, "
        f"[{','.join(f's{j}' for j in range(bd * r, (bd + 1) * r))}] as key from sig"
        for bd in range(bands)
    )
    return (
        f"with base as ({_PAD5}), "
        f"sh as (select doc_id, {_sql_fnv_shingles()} as hs from base), "
        "s31 as (select doc_id, hs, "
        "  list_distinct([cast(x % 2147483648 as bigint) for x in hs]) as f31 "
        "  from sh), "
        f"sig as (select doc_id, {sig} from sh), "
        f"banded as ({band_union}), "
        "pairs as (select distinct a.doc_id as id_a, b.doc_id as id_b "
        "  from banded a join banded b using (band, key) "
        "  where a.doc_id < b.doc_id) "
        "select id_a, id_b, "
        "cast(round(round(jaccard, 4) * 10000.0, 0) as bigint) as jac from ("
        "  select id_a, id_b, "
        "  len(list_intersect(x.f31, y.f31)) / "
        "  (len(x.f31) + len(y.f31) - len(list_intersect(x.f31, y.f31))) "
        "    as jaccard "
        "  from pairs join s31 x on x.doc_id = id_a "
        "  join s31 y on y.doc_id = id_b"
        f") where jaccard >= {threshold!r}"
    )


def _sql_simhash() -> str:
    """DuckDB twin of functions/dedup.simhash_col (frequency-weighted
    votes over the shingle multiset, signed majority per bit)."""
    bits = " + ".join(
        f"(case when 2 * list_sum([cast((x >> {j}) & 1 as bigint) for x in hs])"
        f" - len(hs) > 0 then cast({1 << j} as hugeint) else 0 end)"
        for j in range(64)
    )
    return (
        f"with base as ({_PAD5}), "
        f"sh as (select doc_id, {_sql_fnv_shingles()} as hs from base), "
        f"w as (select doc_id, ({bits}) as w from sh) "
        "select doc_id, cast(case when w >= 9223372036854775808 "
        "then w - 18446744073709551616 else w end as bigint) as simhash from w"
    )


def _sql_merc_factors() -> str:
    """DuckDB twin of engine/factors.py for +proj=merc +ellps=GRS80:
    the SAME 4-point stencil (h=1e-5) on the raw kernel x=lam,
    y=-ln(tsfn(phi)), mirrored term-by-term (deriv.cpp/factors.cpp)."""
    h = 1e-5
    steps = [
        f"lon * {_D2R} as lam_",
        f"lat * {_D2R} as phi_",
        f"(-ln({_sql_tsfn(f'(phi_ + {h!r})')})) as y1_",
        f"(-ln({_sql_tsfn(f'(phi_ - {h!r})')})) as y2_",
        f"(lam_ + {h!r}) as x1_",
        f"(lam_ - {h!r}) as x2_",
        f"(x1_ + x1_ - x2_ - x2_) / {4.0 * h!r} as xl_",
        f"(y1_ - y2_ - y2_ + y1_) / {4.0 * h!r} as yp_",
        f"(x1_ - x1_ - x2_ + x2_) / {4.0 * h!r} as xp_",
        f"(y1_ + y2_ - y2_ - y1_) / {4.0 * h!r} as yl_",
        "cos(phi_) as cosphi_",
        "sin(phi_) as sinphi_",
        f"(1.0 - {_ES!r} * sinphi_ * sinphi_) as t_",
        "sqrt(t_) as n_",
        f"abs(yp_) * (t_ * n_ / {_ONE_ES!r}) as fh",
        "(abs(xl_) / cosphi_) * n_ as fk",
        f"(yp_ * xl_ - xp_ * yl_) * (t_ * t_ / {_ONE_ES!r}) / cosphi_ as fs",
    ]
    q = f"select event_id, lon, lat from ({GEO_SQL_SRC}) where abs(lat) < 80"
    for s in steps:
        q = f"select *, {s} from ({q})"
    return (
        "select event_id, "
        "cast(round(fh * 100000.0, 0) as bigint) as fac_h, "
        "cast(round(fk * 100000.0, 0) as bigint) as fac_k, "
        "cast(round(fs * 10000.0, 0) as bigint) as fac_s "
        f"from ({q})"
    )


def _sql_docs_geo_pipeline() -> str:
    """DuckDB twin of the flagship doc-geo pipeline over the shared
    fixture parquet (docs/media.py regexes; engine/spark transform error
    rules; spatial/tiles integer math)."""
    from proj_4_spark.spatial.tiles import tile_sql

    path = _docs_fixture_path()
    lam = f"(lon * {_D2R})"
    phi = f"(lat * {_D2R})"
    wm_x = f"({lam} * 6378137.0)"
    # greatest(..., 1e-300) makes the expression total: DuckDB may evaluate
    # the projection on pole rows (lat=+-90 fixture spans) before the WHERE
    # removes them, and ln(0)/ln(<0) is a hard error there, not NaN.  The
    # guarded value never surfaces — the pole filter below drops those rows.
    wm_y = f"(ln(greatest(tan(pi()/4 + 0.5 * {phi}), 1e-300)) * 6378137.0)"
    tx, ty = tile_sql("wm_x", "wm_y", 6)
    return (
        "select 6 as zoom, tile_x, tile_y, count(*) as n from ("
        f"  select {tx} as tile_x, {ty} as tile_y from ("
        f"    select wm_x, wm_y from ("
        f"      select {wm_x} as wm_x, {wm_y} as wm_y, lon, lat from ("
        "        select"
        "          try_cast(regexp_extract(s.media_ref, '[?&]lon=(-?[0-9.]+)', 1)"
        "               as double) as lon,"
        "          try_cast(regexp_extract(s.media_ref, '[?&]lat=(-?[0-9.]+)', 1)"
        "               as double) as lat"
        f"        from parquet_scan('{path}') d, unnest(d.spans) as t(s)"
        "        where s.kind = 'media'"
        "      )"
        # transform() error semantics: |lam| > 10 rad (fwd.cpp:55) and
        # merc's |{|phi|} - pi/2| <= EPS10 pole check (merc.cpp)
        f"      where abs({lam}) <= 10.0"
        f"        and abs(abs({phi}) - pi()/2) > 1e-10"
        "    ) where isfinite(wm_x) and isfinite(wm_y)"
        "  )"
        ") group by tile_x, tile_y"
    )


def _sql_stream_geo_tiles() -> str:
    """DuckDB batch twin of the STREAMING geo-tile query: same chain as
    _sql_docs_geo_pipeline plus the 10-minute event-time window bucket
    (minutes = numeric doc_id suffix % 25, floored to the window)."""
    from proj_4_spark.spatial.tiles import tile_sql

    path = _docs_fixture_path()
    lam = f"(lon * {_D2R})"
    phi = f"(lat * {_D2R})"
    wm_x = f"({lam} * 6378137.0)"
    wm_y = f"(ln(greatest(tan(pi()/4 + 0.5 * {phi}), 1e-300)) * 6378137.0)"
    tx, ty = tile_sql("wm_x", "wm_y", 6)
    return (
        "select win, tile_x, tile_y, count(*) as n from ("
        f"  select win, {tx} as tile_x, {ty} as tile_y from ("
        f"    select win, wm_x, wm_y from ("
        f"      select {wm_x} as wm_x, {wm_y} as wm_y, lon, lat, win from ("
        "        select"
        "          try_cast(regexp_extract(s.media_ref, '[?&]lon=(-?[0-9.]+)', 1)"
        "               as double) as lon,"
        "          try_cast(regexp_extract(s.media_ref, '[?&]lat=(-?[0-9.]+)', 1)"
        "               as double) as lat,"
        "          lpad(cast((cast(substring(d.doc_id, 5, 12) as bigint) % 25)"
        "               // 10 * 10 as varchar), 2, '0') as win"
        f"        from parquet_scan('{path}') d, unnest(d.spans) as t(s)"
        "        where s.kind = 'media'"
        "      )"
        f"      where abs({lam}) <= 10.0"
        f"        and abs(abs({phi}) - pi()/2) > 1e-10"
        "    ) where isfinite(wm_x) and isfinite(wm_y)"
        "  )"
        ") group by win, tile_x, tile_y"
    )


def _sql_list(vec) -> str:
    return "[" + ",".join(repr(float(x)) for x in vec) + "]"


def _sql_ann_lsh(n_planes=8, dim=64, seed=42, multiprobe=2, k=5,
                 q_max=20) -> str:
    """DuckDB twin of functions/similarity.lsh_bucket_topk: recomputes
    the seed-deterministic hyperplane signatures, the multiprobe bucket
    expansion (Hamming <= multiprobe XOR masks) and the in-bucket exact
    cosine re-rank from the same parquet."""
    from proj_4_spark.functions.similarity import _hyperplanes, _i64

    planes = _hyperplanes(dim, n_planes, seed)
    plane_rows = ", ".join(
        f"({i}, {_sql_list(p)})" for i, p in enumerate(planes)
    )
    masks = [0]
    if multiprobe >= 1:
        masks += [_i64(1 << i) for i in range(n_planes)]
    if multiprobe >= 2:
        masks += [_i64((1 << i) | (1 << j))
                  for i in range(n_planes) for j in range(i + 1, n_planes)]
    mask_rows = ", ".join(f"({m})" for m in masks)
    return f"""
with planes(pid, p) as (values {plane_rows}),
corpus as (select vec_id, cast(embedding as double[]) as v from embeddings),
sigs as (
  select c.vec_id,
         sum(case when list_dot_product(c.v, pl.p) > 0
                  then (1::bigint << pl.pid) else 0 end)::bigint as bucket
  from corpus c cross join planes pl group by c.vec_id
),
masks(m) as (values {mask_rows}),
probes as (
  select q.vec_id as q_id, xor(q.bucket, mk.m::bigint) as bucket
  from sigs q cross join masks mk where q.vec_id < {q_max}
),
cand as (select distinct p.q_id, s.vec_id from probes p
         join sigs s using (bucket)),
ranked as (
  select c.q_id, c.vec_id,
         list_cosine_similarity(a.v, b.v) as cos,
         row_number() over (partition by c.q_id
           order by list_cosine_similarity(a.v, b.v) desc, c.vec_id) as rank
  from cand c join corpus a on a.vec_id = c.vec_id
              join corpus b on b.vec_id = c.q_id
)
select q_id, vec_id, rank,
       cast(round(cos * 1000000.0, 0) as bigint) as cosine
from ranked where rank <= {k}
"""


def _sql_ann_ivf(n_centroids=16, n_probe=6, dim=64, seed=42, k=5,
                 q_max=20) -> str:
    """DuckDB twin of functions/similarity.ivf_topk: recomputes the
    seed-deterministic unit centroids, nearest-centroid list assignment
    (argmax with first-index tie-break), per-query probe lists (top
    n_probe dots, index-ascending ties) and in-list exact cosine."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(seed))
    cents = rng.standard_normal((n_centroids, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    cent_rows = ", ".join(
        f"({i}, {_sql_list(c)})" for i, c in enumerate(cents)
    )
    return f"""
with cents(cid, c) as (values {cent_rows}),
corpus as (select vec_id, cast(embedding as double[]) as v from embeddings),
cdots as (
  select co.vec_id, ce.cid, list_dot_product(co.v, ce.c) as d
  from corpus co cross join cents ce
),
assign as (
  select vec_id, cid as list_id from (
    select vec_id, cid,
           row_number() over (partition by vec_id order by d desc, cid) as rn
    from cdots) where rn = 1
),
probes as (
  select vec_id as q_id, cid as list_id from (
    select vec_id, cid,
           row_number() over (partition by vec_id order by d desc, cid) as rn
    from cdots where vec_id < {q_max}) where rn <= {n_probe}
),
cand as (
  select p.q_id, a.vec_id from probes p join assign a using (list_id)
),
ranked as (
  select c.q_id, c.vec_id,
         list_cosine_similarity(a.v, b.v) as cos,
         row_number() over (partition by c.q_id
           order by list_cosine_similarity(a.v, b.v) desc, c.vec_id) as rank
  from cand c join corpus a on a.vec_id = c.vec_id
              join corpus b on b.vec_id = c.q_id
)
select q_id, vec_id, rank,
       cast(round(cos * 1000000.0, 0) as bigint) as cosine
from ranked where rank <= {k}
"""


def _sql_qsfn(sinphi: str) -> str:
    """pj_qsfn SQL twin (src/qsfn.cpp:9-25)."""
    con = f"({_E!r} * {sinphi})"
    return (
        f"({_ONE_ES!r} * ({sinphi} / (1.0 - {con} * {con}) - "
        f"{0.5 / _E!r} * ln((1.0 - {con}) / (1.0 + {con}))))"
    )


# ---------------------------------------------------------------------------
# rectangular PIP zones (inlined identically in both engines)
# ---------------------------------------------------------------------------

RECT_ZONES = [
    ("rz-%02d" % i, -170.0 + i * 27.0, -75.0 + (i * 11) % 140 - 0.0,
     -170.0 + i * 27.0 + 15.0, -75.0 + (i * 11) % 140 + 12.0)
    for i in range(12)
]


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_utm_roundtrip(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _geo_points(spark, sf_dir).select(
        "event_id",
        (F.col("lon") / 3.0 + 9.0).alias("u_lon"),
        F.col("lat").alias("u_lat"),
    )
    fwd = transform(pts, "+proj=utm +zone=32 +ellps=GRS80",
                    x="u_lon", y="u_lat", out_prefix="f_")
    back = transform(fwd, "+proj=utm +zone=32 +ellps=GRS80",
                     x="f_x", y="f_y", direction="inv", out_prefix="b_")
    return back.select(
        "event_id",
        # forward VALUES pinned against the plan-time-constant etmerc
        # series recomputed by DuckDB (not just roundtrip closure)
        _i(F.col("f_x"), 100).alias("fx_cm"),
        _i(F.col("f_y"), 100).alias("fy_cm"),
        ((F.abs(F.col("b_x") - F.col("u_lon")) < 1e-7)
         & (F.abs(F.col("b_y") - F.col("u_lat")) < 1e-7)).alias("ok"),
    )


def _q_merc_fwd(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _geo_points(spark, sf_dir)
    out = transform(pts, "+proj=merc +ellps=GRS80", x="lon", y="lat", out_prefix="m_")
    return out.select(
        "event_id",
        _i(F.col("m_x"), 100).alias("x_cm"),
        _i(F.col("m_y"), 100).alias("y_cm"),
    )


def _q_webmerc_tiles(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform
    from proj_4_spark.spatial.tiles import assign_tiles

    pts = _geo_points(spark, sf_dir)
    wm = transform(pts, "+proj=webmerc +ellps=WGS84", x="lon", y="lat", out_prefix="wm_")
    tiled = assign_tiles(wm, x="wm_x", y="wm_y", zoom=8)
    return (
        tiled.groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n"))
    )


def _q_cell_counts(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark.spatial.cells import cell_col

    pts = _geo_points(spark, sf_dir)
    return (
        pts.withColumn("cell", cell_col(F.col("lon"), F.col("lat"), 7))
        .groupBy("cell").agg(F.count("*").alias("n"))
    )


def _q_eqc_fwd(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _geo_points(spark, sf_dir)
    out = transform(pts, "+proj=eqc +ellps=GRS80 +lat_ts=30", x="lon", y="lat",
                    out_prefix="e_")
    return out.select(
        "event_id",
        _i(F.col("e_x"), 10000).alias("x_m"),
        _i(F.col("e_y"), 10000).alias("y_m"),
    )


def _q_cart_fwd(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _geo_points(spark, sf_dir)
    out = transform(pts, "+proj=cart +ellps=GRS80", x="lon", y="lat", out_prefix="c_")
    return out.select(
        "event_id",
        _i(F.col("c_x"), 100).alias("cx"),
        _i(F.col("c_y"), 100).alias("cy"),
        _i(F.col("c_z"), 100).alias("cz"),
    )


def _q_helmert(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _xyz_points(spark, sf_dir)
    out = transform(
        pts,
        "+proj=helmert +convention=position_vector "
        "+x=67.8 +y=-106.3 +z=-119.2 +rx=0.1 +ry=0.2 +rz=0.3 +s=2.5",
        x="gx", y="gy", z="gz", out_prefix="h_",
    )
    return out.select(
        "event_id",
        _i(F.col("h_x"), 10000).alias("hx"),
        _i(F.col("h_y"), 10000).alias("hy"),
        _i(F.col("h_z"), 10000).alias("hz"),
    )


def _q_lcc_fwd(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _geo_points(spark, sf_dir)
    out = transform(pts, "+proj=lcc +ellps=GRS80 +lat_1=33 +lat_2=45 +lat_0=40 +lon_0=-96",
                    x="lon", y="lat", out_prefix="l_")
    return out.select(
        "event_id",
        _i(F.col("l_x"), 100).alias("x_cm"),
        _i(F.col("l_y"), 100).alias("y_cm"),
    )


def _q_aea_fwd(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _geo_points(spark, sf_dir)
    out = transform(pts, "+proj=aea +ellps=GRS80 +lat_1=29.5 +lat_2=45.5",
                    x="lon", y="lat", out_prefix="a_")
    return out.select(
        "event_id",
        _i(F.col("a_x"), 100).alias("x_cm"),
        _i(F.col("a_y"), 100).alias("y_cm"),
    )


def _q_esri_albers(spark, sf_dir):
    """USA Contiguous Albers through the GENERATED catalog: the
    projstring is `+init=ESRI:102003`, so the whole authority-resolution
    path (tools/gen_epsg_catalog.py's inline-WKT compilation ->
    sources/initfiles.resolve_init -> init expansion) sits inside the
    value-verified chain, not just in pytest."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _geo_points(spark, sf_dir)
    # +break_cs2cs_recursion = pj_init (proj app) semantics: the raw
    # projection without the datum=NAD83 hub leg, whose zero-shift
    # cart roundtrip would add micrometer noise at cm-rounding edges
    out = transform(pts, "+init=ESRI:102003 +break_cs2cs_recursion",
                    x="lon", y="lat", out_prefix="a_")
    return out.select(
        "event_id",
        _i(F.col("a_x"), 100).alias("x_cm"),
        _i(F.col("a_y"), 100).alias("y_cm"),
    )


def _q_compound_geoid(spark, sf_dir):
    """Compound CRS routed end-to-end through the generated catalog:
    +init=EPSG:4326+5773 (WGS 84 + EGM96 height) resolves via
    COMPOUND/VERT_PRESETS (compiled from the reference's
    vertical_crs.sql + grid_transformation.sql geoid rows) to the
    horizontal preset plus +geoidgrids=egm96_15.gtx; forward z
    subtracts the undulation (vgridshift historical multiplier=-1,
    src/transformations/vgridshift.cpp:175-240).  The oracle
    re-interpolates the same grid array bilinearly in DuckDB from
    fixtures/egm96_grid_cells.parquet, term-for-term the kernel
    stencil (kernels/gridshift.py vgrid_value)."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _geo_points(spark, sf_dir).withColumn("h", F.lit(0.0))
    out = transform(pts, "+init=EPSG:4326+5773", x="lon", y="lat", z="h",
                    out_prefix="c_")
    return out.select("event_id", _i(F.col("c_z"), 10000).alias("z_01mm"))


def _q_nad27_catalog_routed(spark, sf_dir):
    """NAD27 -> NAD83 routed end-to-end through the generated catalog:
    crs_to_crs_candidates('EPSG:4267','EPSG:4269') builds the NADCON
    conus/alaska hgridshift candidates (accuracy-ranked, antimeridian
    bbox split) and alt_transform applies first-spatial-match per point
    — the catalog -> altops -> gridshift chain inside the driver gate
    (VERDICT r4 item 6).  Point construction puts even event_ids in the
    conus-only bbox and odd ones in the alaska-only (east split) bbox,
    so chosen_op pins the candidate ordering (0=conus, 2=alaska east).
    The oracle re-interpolates the SAME CTable2 shift arrays in DuckDB
    (fixtures/{conus,alaska}_grid_cells.parquet) with the kernel's
    bilinear stencil mirrored term-for-term (kernels/gridshift.py
    _interp_grid weight order; fwd adds the deltas)."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.altops import (
        alt_transform,
        crs_to_crs_candidates,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    e = F.col("event_id")
    pts = ev.select(
        "event_id",
        F.when(e % 2 == 0, F.lit(-115.0) + (e * 7 % 2000) / 100.0)
         .otherwise(F.lit(-160.0) + (e * 7 % 1800) / 100.0).alias("lon"),
        F.when(e % 2 == 0, F.lit(30.0) + (e * 11 % 1500) / 100.0)
         .otherwise(F.lit(58.0) + (e * 11 % 900) / 100.0).alias("lat"),
    )
    cands = crs_to_crs_candidates("EPSG:4267", "EPSG:4269")
    out = alt_transform(pts, cands, out_prefix="n_")
    return out.select(
        "event_id",
        _i(F.col("n_x"), 1e11).alias("lam83"),
        _i(F.col("n_y"), 1e11).alias("phi83"),
        F.col("n_chosen_op").alias("chosen"),
    )


def _q_axisswap(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _geo_points(spark, sf_dir)
    out = transform(pts, "+proj=axisswap +order=2,-1", x="lon", y="lat", out_prefix="s_")
    return out.select("event_id", F.col("s_x").alias("sx"), F.col("s_y").alias("sy"))


def _q_unitconvert(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _xyz_points(spark, sf_dir)
    out = transform(pts, "+proj=unitconvert +xy_in=m +xy_out=km +z_in=m +z_out=us-ft",
                    x="gx", y="gy", z="gz", out_prefix="u_")
    return out.select(
        "event_id",
        _i(F.col("u_x"), 1000000).alias("ux"),
        _i(F.col("u_y"), 1000000).alias("uy"),
        _i(F.col("u_z"), 1000000).alias("uz"),
    )


def _q_pipeline_composed(spark, sf_dir):
    """Pipeline composition: geodetic -> cart -> helmert -> cart-inv
    (cs2cs-style datum shift, SURVEY.md §2.3), exercised end-to-end."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _geo_points(spark, sf_dir)
    out = transform(
        pts,
        "+proj=pipeline +ellps=GRS80 "
        "+step +proj=cart "
        "+step +proj=helmert +x=10 +y=-20 +z=30 "
        "+step +proj=cart +inv",
        x="lon", y="lat", out_prefix="p_",
    )
    return out.select(
        "event_id",
        _i(F.col("p_x"), 1000000).alias("plon"),
        _i(F.col("p_y"), 1000000).alias("plat"),
    )


_TOWGS84_PS = ("+proj=longlat +ellps=bessel "
               "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7")


def _q_towgs84_shift(spark, sf_dir):
    """Datum-modified SINGLE op (+towgs84 cs2cs-emulation hooks; DHDN
    7-param EXACT position-vector rotation): WGS84 -> bessel geodetic
    shift with ellipsoidal heights.  Runs as the r6 composed Catalyst
    twin (datum legs + latlong identity, zero Python workers); the
    oracle mirrors cart fwd (WGS84) -> exact-helmert inverse -> cart
    inv (bessel, Bowring closed form) term-for-term in DuckDB."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _geo_points(spark, sf_dir)
    out = transform(pts, _TOWGS84_PS, x="lon", y="lat", out_prefix="d_")
    return out.select(
        "event_id",
        _i(F.col("d_x"), 1000000).alias("dlon"),
        _i(F.col("d_y"), 1000000).alias("dlat"),
        _i(F.col("d_z"), 10000).alias("dh"),
    )


_LAEA_PS = "+proj=laea +ellps=GRS80 +lat_0=52 +lon_0=10"


def _q_laea_inverse(spark, sf_dir):
    """Reverse geocode through the r6 laea INVERSE Catalyst twin
    (ETRS89-LAEA Europe, the standard EU grid): projected metres ->
    lon/lat with zero Python workers (authalic-latitude closed series
    auth.cpp:33-38).  The oracle recomputes laea.cpp:140-186 + authlat
    term-for-term in DuckDB from the op's own setup constants."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        "event_id",
        ((F.col("event_id") * 7919 % 4000000) - 2000000.0).alias("px"),
        ((F.col("event_id") * 104729 % 4000000) - 2000000.0).alias("py"),
    )
    out = transform(pts, _LAEA_PS, x="px", y="py", direction="inv",
                    out_prefix="i_")
    return out.select(
        "event_id",
        _i(F.col("i_x"), 1000000).alias("ilon"),
        _i(F.col("i_y"), 1000000).alias("ilat"),
    )


_LCC_INV_PS = "+proj=lcc +ellps=GRS80 +lat_1=33 +lat_2=45 +lat_0=40 +lon_0=-96"
_AEA_INV_PS = "+proj=aea +ellps=GRS80 +lat_1=29.5 +lat_2=45.5"


def _conic_inv_points(spark, sf_dir):
    """Deterministic projected-metre grid (CONUS-scale, every row in
    the convergent domain of both conic inverses)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        ((F.col("event_id") * 6271 % 4000000) - 2000000.0).alias("px"),
        ((F.col("event_id") * 104729 % 3000000) - 1500000.0).alias("py"),
    )


def _q_lcc_inverse(spark, sf_dir):
    """Tile->lonlat through the r7 lcc INVERSE Catalyst twin: the
    pj_phi2 iteration (src/phi2.cpp:12-83) unrolled as staged SQL with
    frozen-lane convergence — zero Python workers.  The oracle replays
    lcc.cpp:46-77 + the same 14 frozen phi2 updates in DuckDB from the
    op's own setup constants."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    out = transform(_conic_inv_points(spark, sf_dir), _LCC_INV_PS,
                    x="px", y="py", direction="inv", out_prefix="i_")
    return out.select(
        "event_id",
        _i(F.col("i_x"), 1000000).alias("ilon"),
        _i(F.col("i_y"), 1000000).alias("ilat"),
    )


_GEOS_PS = "+proj=geos +h=35785831.0 +lon_0=0 +ellps=WGS84"


def _q_geos_inverse(spark, sf_dir):
    """Satellite scan-angle -> lonlat through the r7 geos INVERSE
    Catalyst twin (Meteosat full-disc geometry): the closed-form
    ray/ellipsoid intersection runs with zero Python workers — the
    shape of every GOES/Meteosat L1b geolocation pass.  Inputs are a
    deterministic grid inscribed in the visibility disc; the oracle
    replays geos.cpp's inverse term-for-term in DuckDB."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        "event_id",
        ((F.col("event_id") * 9973 % 7400000) - 3700000.0).alias("px"),
        ((F.col("event_id") * 104729 % 7400000) - 3700000.0)
        .alias("py"),
    )
    out = transform(pts, _GEOS_PS, x="px", y="py", direction="inv",
                    out_prefix="i_")
    return out.select(
        "event_id",
        _i(F.col("i_x"), 1000000).alias("ilon"),
        _i(F.col("i_y"), 1000000).alias("ilat"),
    )


def _q_utm_inverse(spark, sf_dir):
    """Projected UTM metres -> lonlat through the late-r7
    Poder-Engsager INVERSE Catalyst twin (zone 32): the flagship
    tile->lonlat workload runs with zero Python workers.  The oracle
    replays tmerc.cpp:419-489 (complex Clenshaw over utg, spherical
    de-projection, gatg over cgb) in DuckDB from the op's own series
    coefficients."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        "event_id",
        ((F.col("event_id") * 6761 % 800000) + 100000.0).alias("px"),
        ((F.col("event_id") * 104729 % 9100000) + 100000.0)
        .alias("py"),
    )
    out = transform(pts, "+proj=utm +zone=32 +ellps=GRS80",
                    x="px", y="py", direction="inv", out_prefix="i_")
    return out.select(
        "event_id",
        _i(F.col("i_x"), 1000000).alias("ilon"),
        _i(F.col("i_y"), 1000000).alias("ilat"),
    )


def _q_aea_inverse(spark, sf_dir):
    """Tile->lonlat through the r7 aea INVERSE Catalyst twin: the phi1
    Newton iteration (src/projections/aea.cpp:48-70) unrolled as
    staged SQL with frozen-lane convergence — zero Python workers.
    The oracle replays aea.cpp:121-160 + the same 15 frozen Newton
    updates in DuckDB from the op's own setup constants."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    out = transform(_conic_inv_points(spark, sf_dir), _AEA_INV_PS,
                    x="px", y="py", direction="inv", out_prefix="i_")
    return out.select(
        "event_id",
        _i(F.col("i_x"), 1000000).alias("ilon"),
        _i(F.col("i_y"), 1000000).alias("ilat"),
    )


_BOUNDCRS_WKT = (
    'BOUNDCRS[SOURCECRS[GEOGCRS["DHDN",DATUM["Deutsches Hauptdreiecksnetz",'
    'ELLIPSOID["Bessel 1841",6377397.155,299.1528128]],'
    'ANGLEUNIT["degree",0.0174532925199433]]],'
    'TARGETCRS[GEOGCRS["WGS 84",DATUM["World Geodetic System 1984",'
    'ELLIPSOID["WGS 84",6378137,298.257223563]],'
    'ANGLEUNIT["degree",0.0174532925199433]]],'
    'ABRIDGEDTRANSFORMATION["DHDN to WGS 84",'
    'METHOD["Position Vector transformation (geog2D domain)",'
    'ID["EPSG",9606]],'
    'PARAMETER["X-axis translation",598.1],'
    'PARAMETER["Y-axis translation",73.7],'
    'PARAMETER["Z-axis translation",418.2],'
    'PARAMETER["X-axis rotation",0.202],'
    'PARAMETER["Y-axis rotation",0.045],'
    'PARAMETER["Z-axis rotation",-2.455],'
    'PARAMETER["Scale difference",1.0000067]]]'
)


def _q_boundcrs_text_shift(spark, sf_dir):
    """The SAME 7-param datum shift as towgs84_datum_shift, but the CRS
    arrives as GDAL-style WKT2 BOUNDCRS TEXT (r6 ingestion): proves the
    text -> proj-string -> composed-twin chain end-to-end in the
    correctness gate.  The oracle rebuilds the chain SQL from the op
    the TEXT produced (abridged scale (1.0000067-1)*1e6 differs from a
    literal 6.7 ppm in the last bits — constants must come from the
    same parse)."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform

    pts = _geo_points(spark, sf_dir)
    out = transform(pts, _BOUNDCRS_WKT, x="lon", y="lat",
                    out_prefix="d_")
    return out.select(
        "event_id",
        _i(F.col("d_x"), 1000000).alias("dlon"),
        _i(F.col("d_y"), 1000000).alias("dlat"),
        _i(F.col("d_z"), 10000).alias("dh"),
    )


def _q_projjson_text_merc(spark, sf_dir):
    """Plain Mercator, but the CRS arrives as PROJJSON TEXT (r6
    ingestion; createFromUserInput '{' dispatch): same projection and
    integerization as merc_fwd, so the oracle is merc_fwd's SQL —
    pinning the JSON -> proj-string -> Catalyst-twin chain
    value-exact."""
    import json as _json

    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import transform
    from proj_4_spark.sources.projjson import projstring_to_projjson

    pts = _geo_points(spark, sf_dir)
    j = _json.dumps(projstring_to_projjson("proj=merc ellps=GRS80"))
    out = transform(pts, j, x="lon", y="lat", out_prefix="m_")
    return out.select("event_id",
                      _i(F.col("m_x"), 100).alias("x_cm"),
                      _i(F.col("m_y"), 100).alias("y_cm"))


def _q_proj_factors(spark, sf_dir):
    """proj_factors (src/factors.cpp) for Mercator over the events-derived
    points; DuckDB recomputes the conformal closed form
    k = h = sqrt(1-es sin^2 phi)/cos(phi)."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.factors import factors_df

    pts = _geo_points(spark, sf_dir).where(F.abs(F.col("lat")) < 80)
    out = factors_df(pts, "+proj=merc +ellps=GRS80", lon="lon", lat="lat")
    return out.select(
        "event_id",
        _i(F.col("f_h"), 100000).alias("fac_h"),
        _i(F.col("f_k"), 100000).alias("fac_k"),
        _i(F.col("f_s"), 10000).alias("fac_s"),
    )


def _q_pip_rect(spark, sf_dir):
    """Per-zone containment counts over PLAN-TIME-LITERAL rectangles.

    r8: the broadcast nested-loop join + groupBy evaluated the join
    machinery per (point x zone) pair (measured 0.8-1.4 s at sf1 for
    12M pair visits producing 72k hits); with the zone list literal at
    plan time the same counts compile to ONE whole-stage-codegen
    conditional aggregate over the points scan — zero joins, map-side
    partials, one tiny final exchange — 0.61 s, identical rows/schema
    (inner-join semantics preserved by the n > 0 filter: zones with no
    hits never appeared).  The general polygon operators
    (spatial/pip.pip_join, pip_join_cells) remain the non-literal path
    and keep their own gates/oracles."""
    from pyspark.sql import functions as F

    pts = _geo_points(spark, sf_dir)
    aggs = [
        F.sum(
            F.when(
                (F.col("lon") >= z[1]) & (F.col("lon") < z[3])
                & (F.col("lat") >= z[2]) & (F.col("lat") < z[4]),
                1,
            ).otherwise(0)
        ).alias(f"n{i}")
        for i, z in enumerate(RECT_ZONES)
    ]
    one = pts.agg(*aggs)
    stack = ", ".join(f"'{z[0]}', n{i}" for i, z in enumerate(RECT_ZONES))
    return (one.selectExpr(f"stack({len(RECT_ZONES)}, {stack}) "
                           "as (zone_id, n)")
               .where(F.col("n") > 0))


def _q_pip_cells(spark, sf_dir):
    """The NON-broadcast PIP scale path (cell-indexed hash join +
    exact ray crossing) over real ring polygons; DuckDB recomputes the
    even-odd test from the same committed zones fixture."""
    from pyspark.sql import functions as F

    from proj_4_spark.sources import fixtures as FX
    from proj_4_spark.spatial.pip import pip_join_cells

    zpath = FX.ensure_fixture("zones.parquet", FX.zones_table)
    zones = spark.read.parquet(zpath)
    pts = _geo_points(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.lit(0).alias("span_offset"), "lon", "lat",
    )
    hits = pip_join_cells(pts, zones, res=5)
    return hits.groupBy("zone_id").agg(F.count("*").alias("n"))


def _knn_karney_fixture_path() -> str:
    """Brute-force Karney expected-distance fixture (sf0.01) — built
    once driver-side with no Spark and no cell index, so the DuckDB
    re-rank over it independently checks the distributed join."""
    import proj_4_spark.sources.fixtures as FX

    return FX.ensure_fixture("knn_karney_expected.parquet",
                             FX.knn_karney_expected_table)


def _knn_query(spark, sf_dir, per_m: float, name: str, **metric):
    """The driver's kNN setup: every event a point, every 211th a
    query, k=5; `dist_m` integerized at `per_m` units
    per meter as `name`.  knn_join sizes its cells from the events
    footers (scale.knn_res)."""
    from pyspark.sql import functions as F

    from proj_4_spark.spatial.knn import knn_join

    pts = _geo_points(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.lit(0).alias("span_offset"), "lon", "lat",
    )
    queries = _geo_points(spark, sf_dir).where("event_id % 211 = 0").select(
        F.col("event_id").cast("string").alias("q_id"), "lon", "lat"
    )
    out = knn_join(pts, queries, k=5, **metric)
    return out.select(
        "q_id", "doc_id", "rank", _i(F.col("dist_m"), per_m).alias(name)
    )


def _q_knn(spark, sf_dir):
    """Cell-partitioned kNN with the production ellipsoidal-Karney
    metric.  Value-verified: the DuckDB oracle re-ranks a driver-side
    brute-force all-pairs fixture (same vectorized kernel, no
    cells/rings/Spark) and must reproduce ranks AND mm-integerized
    distances."""
    return _knn_query(spark, sf_dir, 1000, "dist_mm")


def _q_knn_haversine(spark, sf_dir):
    """The SAME cell-partitioned kNN machinery (ring-1 pass, guard,
    widening pass, tie-breaks) with the SQL-expressible haversine
    metric, so DuckDB brute-force recomputes the exact result set (value-level check of
    the join; the Karney entry keeps the production metric)."""
    return _knn_query(spark, sf_dir, 1000, "dist_mm", metric="haversine")


def _q_knn_karney_sphere(spark, sf_dir):
    """The PRODUCTION Karney metric path (full vectorized inverse:
    meridian/equatorial/Newton branches inside the kNN UDF) run on a
    SPHERE (f=0), where the geodesic distance equals the great-circle
    arc — so DuckDB brute-force value-checks the Karney code itself,
    not a twin formula.  cm integerization absorbs the asin-vs-atan2
    formulation ulps.  (The f!=0 ellipsoidal path is pinned by geodtest
    20/20 and brute-force parity in pytest.)"""
    return _knn_query(spark, sf_dir, 100, "dist_cm", metric="karney",
                      a=6378137.0, f=0.0)


def _q_dedup_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark.functions.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    groups = exact_dedup(docs, "text", "doc_id")
    return groups.select(
        F.substring("text_hash", 1, 2).alias("bucket"),
        "n_docs",
    ).groupBy("bucket").agg(
        F.count("*").alias("n_groups"), F.sum("n_docs").alias("n_docs_total")
    )


def _q_text_stats(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark import scale
    from proj_4_spark.functions.text import (
        fingerprint_col,
        quality_score_col,
        token_count_col,
    )

    # a Column-function pass with no library operator: fan out here
    docs = scale.fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"),
                         4 << 20)
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        quality_score_col(F.col("text")).alias("quality"),
        fingerprint_col(F.col("text")).alias("fp"),
    )


def _q_lang_id(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark import scale
    from proj_4_spark.functions.text import lang_id_col

    # a Column-function pass with no library operator: fan out here
    docs = scale.fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"),
                         4 << 20)
    return (
        docs.select(lang_id_col(F.col("text")).alias("pred_lang"))
        .groupBy("pred_lang").agg(F.count("*").alias("n"))
    )


def _q_ann_cosine(spark, sf_dir):
    from pyspark.sql import functions as F

    from proj_4_spark.functions.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id < 20").selectExpr(
        "vec_id as q_id", "embedding"
    )
    topk = cosine_topk(emb, queries, k=5, raw_cosine=True)
    return topk.select(
        "q_id", "vec_id", "rank", _i(F.col("cosine"), 1000000).alias("cosine")
    )


def _q_ann_ivf(spark, sf_dir):
    """IVF (inverted-file) ANN — the second scale path next to
    hyperplane LSH.  Deterministic given the seed, so DuckDB recomputes
    the same centroid assignment, probe lists and in-list exact cosine
    (oracle `ann_ivf_topk`); recall vs cosine_topk additionally pinned
    in tests/test_functions.py::test_ivf_ann_recall."""
    from pyspark.sql import functions as F

    from proj_4_spark.functions.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id < 20").selectExpr("vec_id as q_id", "embedding")
    topk = ivf_topk(emb, queries, k=5, n_centroids=16,
                    n_probe=6, dim=64, raw_cosine=True)
    return topk.select("q_id", "vec_id", "rank",
                       _i(F.col("cosine"), 1000000).alias("cosine"))


def _q_polygon_area_sphere(spark, sf_dir):
    """Geodesic polygon area/perimeter AGGREGATE over the 200 committed
    zone rings in SPHERE mode (f=0), where the Karney area term is
    SQL-expressible: S12_edge = c2 * tan(Gamma/2) identity and the
    perimeter is the great-circle haversine — so DuckDB value-checks
    the whole polygon accumulator (transit crossings, closing edge,
    areareduce sign conventions).  The ellipsoidal path (same code,
    f!=0) is pinned by the geodtest planimeter cases in pytest."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import geodesic_polygon_area_df
    from proj_4_spark.sources import fixtures as FX

    zpath = FX.ensure_fixture("zones.parquet", FX.zones_table)
    zones = spark.read.parquet(zpath)
    verts = zones.select(
        "zone_id", F.posexplode("ring").alias("seq", "v")
    ).select("zone_id", "seq", F.col("v.lon").alias("lon"),
             F.col("v.lat").alias("lat"))
    out = geodesic_polygon_area_df(verts, poly_id="zone_id", f_=0.0)
    return out.select(
        "zone_id",
        _i(F.col("area_m2"), 0.001).alias("area_dam2"),
        _i(F.col("perimeter_m"), 1).alias("perim_m"),
        "n_vertices",
    )


def _sql_polygon_area_sphere() -> str:
    """DuckDB twin of _q_polygon_area_sphere: per-edge spherical
    quadrilateral area via the tan(Gamma/2) identity (verified equal to
    the engine's internal-frame computation to <4e-16 relative), summed
    per zone with the closing edge; perimeter via exact central angles."""
    from proj_4_spark.sources import fixtures as FX

    zpath = FX.ensure_fixture("zones.parquet", FX.zones_table)
    c2 = 6378137.0 * 6378137.0  # authalic radius^2 == a^2 on the sphere
    d2r = "(pi() / 180.0)"
    # AngRound mirror (geodesic.c:264-272) on |dlon| (zone edges < 45 deg)
    return f"""
with verts as (
  select zone_id, unnest(ring) as v, unnest(range(len(ring))) as seq
  from parquet_scan('{zpath}')
),
pts as (select zone_id, seq, v.lon as lon, v.lat as lat from verts),
edges as (
  select zone_id, lon as lon1, lat as lat1,
         coalesce(lead(lon) over w, first_value(lon) over w) as lon2,
         coalesce(lead(lat) over w, first_value(lat) over w) as lat2
  from pts window w as (partition by zone_id order by seq)
),
terms as (
  select zone_id, s12, cang * 6378137.0 as edge_m from (
    select zone_id,
      {c2!r} * 2.0 * atan2(
        sin(adr * {d2r}) * (sb1 * (1.0 + cb2) + sb2 * (1.0 + cb1)),
        (1.0 + cos(adr * {d2r}))
          * (sb1 * sb2 + (1.0 + cb1) * (1.0 + cb2))
      ) * sign(d0) as s12,
      2.0 * asin(least(1.0, sqrt(
        pow(sin((lat2 - lat1) * {d2r} / 2.0), 2)
        + cb1 * cb2 * pow(sin(d0 * {d2r} / 2.0), 2)))) as cang
    from (
      select zone_id, lat1, lat2, lon2 - lon1 as d0,
        case when abs(lon2 - lon1) < 0.0625
             then 0.0625 - (0.0625 - abs(lon2 - lon1))
             else abs(lon2 - lon1) end as adr,
        sin(lat1 * {d2r}) as sb1, cos(lat1 * {d2r}) as cb1,
        sin(lat2 * {d2r}) as sb2, cos(lat2 * {d2r}) as cb2
      from edges)
  )
)
select zone_id,
       cast(round(-sum(s12) * 0.001, 0) as bigint) as area_dam2,
       cast(round(sum(edge_m) * 1.0, 0) as bigint) as perim_m,
       cast(count(*) as int) as n_vertices
from terms group by zone_id
"""


def _q_geodesic_waypoints_sphere(spark, sf_dir):
    """Geodesic line sampling through the PRODUCTION direct solver
    (kernels/geodesic._geod_direct: C1'/C3 series, LONG_UNROLL) at f=0,
    where waypoints are great-circle slerp points — SQL-expressible, so
    DuckDB value-checks the direct path itself (the ellipsoidal case is
    geodtest-pinned).  Lines: consecutive event points; 5 waypoints."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import geodesic_line_sample_df

    p = _geo_points(spark, sf_dir)
    lines = p.where("event_id % 97 = 0").select(
        F.col("event_id").alias("line_id"),
        F.col("lon").alias("lon1"), F.col("lat").alias("lat1"),
        # deterministic second endpoint from the same generator family
        ((F.col("event_id") * 31 % 360000) / 1000.0 - 180.0).alias("lon2"),
        ((F.col("event_id") * 73 % 170000) / 1000.0 - 85.0).alias("lat2"),
    )
    out = geodesic_line_sample_df(lines, n_points=5, f_=0.0)
    return out.select(
        "line_id", "k",
        _i(F.col("wp_lon"), 10000000).alias("wp_lon_e7"),
        _i(F.col("wp_lat"), 10000000).alias("wp_lat_e7"),
    )


def _sql_geodesic_waypoints_sphere() -> str:
    """DuckDB twin of _q_geodesic_waypoints_sphere: great-circle slerp
    via unit vectors — wp = (sin((1-t)w)*A + sin(t*w)*B)/sin(w) with w
    the central angle; exact on the sphere, 1e-7 deg integerization
    absorbs formulation ulps."""
    d2r = "(pi() / 180.0)"
    lines = (
        "select event_id as line_id, lon as lon1, lat as lat1, "
        "(event_id * 31 % 360000) / 1000.0 - 180.0 as lon2, "
        "(event_id * 73 % 170000) / 1000.0 - 85.0 as lat2 "
        f"from ({GEO_SQL_SRC}) where event_id % 97 = 0"
    )
    return f"""
with lines as ({lines}),
uv as (
  select line_id, lon1, lat1, lon2, lat2,
    cos(lat1 * {d2r}) * cos(lon1 * {d2r}) as ax,
    cos(lat1 * {d2r}) * sin(lon1 * {d2r}) as ay,
    sin(lat1 * {d2r}) as az,
    cos(lat2 * {d2r}) * cos(lon2 * {d2r}) as bx,
    cos(lat2 * {d2r}) * sin(lon2 * {d2r}) as by,
    sin(lat2 * {d2r}) as bz
  from lines
),
ang as (
  select *, atan2(
    sqrt(pow(ay * bz - az * by, 2) + pow(az * bx - ax * bz, 2)
         + pow(ax * by - ay * bx, 2)),
    ax * bx + ay * by + az * bz) as w
  from uv
),
wps as (
  -- w ~ 0 (degenerate identical endpoints): every waypoint is A
  select line_id, k, w,
    case when w < 1e-12 then ax else
      (sin((1.0 - k / 4.0) * w) * ax + sin((k / 4.0) * w) * bx) / sin(w)
    end as px,
    case when w < 1e-12 then ay else
      (sin((1.0 - k / 4.0) * w) * ay + sin((k / 4.0) * w) * by) / sin(w)
    end as py,
    case when w < 1e-12 then az else
      (sin((1.0 - k / 4.0) * w) * az + sin((k / 4.0) * w) * bz) / sin(w)
    end as pz
  from ang cross join (select unnest(range(5)) as k)
)
-- the -180 -> +180 fold mirrors the engine's AngNormalize convention
select line_id, cast(k as int) as k,
  case when cast(round(atan2(py, px) / {d2r} * 10000000.0, 0) as bigint)
            = -1800000000 then 1800000000
       else cast(round(atan2(py, px) / {d2r} * 10000000.0, 0) as bigint)
  end as wp_lon_e7,
  cast(round(asin(greatest(-1.0, least(1.0, pz / sqrt(px*px + py*py + pz*pz))))
       / {d2r} * 10000000.0, 0) as bigint) as wp_lat_e7
from wps
"""


def _q_alt_op_select(spark, sf_dir):
    """Per-point alternative-operation selection + retry
    (src/4D_api.cpp:204-364 over a static candidate list): UTM zone 32
    by bbox where applicable (best accuracy), Mercator elsewhere, and
    the pole rows (every 37th event forced to lat=90) FAIL in merc ->
    per-point retry routes them to eqc.  The oracle recomputes routing
    and all three kernels, so chosen_op AND values check the whole
    selection/retry loop."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.altops import Candidate, alt_transform

    pts = _geo_points(spark, sf_dir).withColumn(
        "lat",
        F.when(F.col("event_id") % 37 == 0, F.lit(90.0)).otherwise(F.col("lat")),
    )
    cands = [
        Candidate.from_projstring("+proj=utm +zone=32 +ellps=GRS80",
                                  (6.0, 0.0, 12.0, 84.0), accuracy=0.1),
        Candidate.from_projstring("+proj=merc +ellps=GRS80",
                                  (-180.0, -90.0, 180.0, 90.0), accuracy=1.0),
        Candidate.from_projstring("+proj=eqc +ellps=GRS80 +lat_ts=30",
                                  (-180.0, -90.0, 180.0, 90.0), accuracy=5.0),
    ]
    out = alt_transform(pts, cands)
    return out.select(
        "event_id", "chosen_op",
        _i(F.col("x"), 100).alias("x_cm"),
        _i(F.col("y"), 100).alias("y_cm"),
    )


def _sql_alt_op_select() -> str:
    """DuckDB twin of _q_alt_op_select: mirrors the bbox/accuracy
    routing rule (incl. the merc pole-failure retry -> eqc) as a CASE,
    then recomputes each branch with the already-proven kernel SQL."""
    import math

    src = ("select event_id, lon, "
           "case when event_id % 37 = 0 then 90.0 else lat end as lat "
           f"from ({GEO_SQL_SRC})")
    sel = ("select *, case "
           "when lon >= 6.0 and lon <= 12.0 and lat >= 0.0 and lat <= 84.0 then 0 "
           f"when abs(abs(lat * {_D2R}) - pi()/2) <= 1e-10 then 2 "
           f"else 1 end as chosen_op from ({src})")
    utm_src = f"select event_id, lon, lat from ({sel}) where chosen_op = 0"
    utm_fwd = _sql_etmerc_fwd_select(
        utm_src, "+proj=utm +zone=32 +ellps=GRS80",
        lon0_deg=9.0, x0=500000.0, y0=0.0)
    lam = f"(lon * {_D2R})"
    phi = f"(lat * {_D2R})"
    merc_x = f"({lam} * {_A!r})"
    # total-expression ln guard (pole rows are routed away by chosen_op
    # but DuckDB may evaluate the projection eagerly)
    merc_y = f"(-ln(greatest({_sql_tsfn(phi)}, 1e-300)) * {_A!r})"
    rc = repr(math.cos(30 * math.pi / 180))
    eqc_x = f"(({rc} * {lam})) * {_A!r}"
    eqc_y = f"({phi}) * {_A!r}"

    def cm(e):
        return f"cast(round(({e}) * 100.0, 0) as bigint)"

    return (
        f"select event_id, 0 as chosen_op, {cm('fx')} as x_cm, "
        f"{cm('fy')} as y_cm from ({utm_fwd}) "
        "union all "
        f"select event_id, 1 as chosen_op, {cm(merc_x)} as x_cm, "
        f"{cm(merc_y)} as y_cm from ({sel}) where chosen_op = 1 "
        "union all "
        f"select event_id, 2 as chosen_op, {cm(eqc_x)} as x_cm, "
        f"{cm(eqc_y)} as y_cm from ({sel}) where chosen_op = 2"
    )


def _q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup candidates; value-verified against a DuckDB
    oracle that recomputes the full FNV-shingle -> (a*x+b) mod p
    signatures and band-joins on raw band values."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return __import__(
        "proj_4_spark.functions.dedup", fromlist=["minhash_lsh_pairs"]
    ).minhash_lsh_pairs(docs, "text", "doc_id", num_perm=32, bands=8)


def _q_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH ANN (the 100-TB scale path).  Deterministic given
    the seed, so DuckDB recomputes the same signatures, multiprobe
    buckets and in-bucket exact cosine (oracle `ann_lsh_topk`); recall
    vs cosine_topk additionally pinned in
    tests/test_functions.py::test_lsh_ann_recall."""
    from pyspark.sql import functions as F

    from proj_4_spark.functions.similarity import lsh_bucket_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id < 20").selectExpr("vec_id as q_id", "embedding")
    topk = lsh_bucket_topk(emb, queries, k=5, n_planes=8,
                           dim=64, multiprobe=2,
                           raw_cosine=True)
    return topk.select("q_id", "vec_id", "rank",
                       _i(F.col("cosine"), 1000000).alias("cosine"))


def _ann_index_path(kind: str, sf_dir: str) -> str:
    """Cached persisted-index location for a given sf dir (benchdata/ is
    gitignored; at cluster scale this would be a DFS URI)."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "benchdata", "ann_index", f"{kind}_{tag}")


def _ensure_ann_index(spark, sf_dir: str, kind: str) -> str:
    """Build-once semantics for the prebuilt ANN queries: reuse the
    cached index while its sidecar params, row count and source bytes
    still match the sf dir's embeddings footers (no Spark job), else
    (re)build."""
    from proj_4_spark import scale
    from proj_4_spark.functions import ann_index

    path = _ann_index_path(kind, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows, size, _ = scale.parquet_stats(emb)
    params = {"dim": 64, "seed": 42,
              **({"n_planes": 8} if kind == "lsh" else {"n_centroids": 16})}
    want = {"kind": kind, **params, "corpus_rows": rows, "corpus_bytes": size}
    try:
        meta = ann_index.read_meta(path)
        if all(meta.get(k) == v for k, v in want.items()):
            return path
    except ValueError:
        pass
    build = (ann_index.build_lsh_index if kind == "lsh"
             else ann_index.build_ivf_index)
    build(emb, path, **params)
    return path


def _q_ann_lsh_prebuilt(spark, sf_dir):
    """Probe-only LSH ANN against a PERSISTED index (build-once /
    probe-many — the serving shape a 100-TB user actually runs; VERDICT
    r6 #1).  Same params as `ann_lsh_topk`, so the identical DuckDB
    recompute oracle applies; the corpus side of the plan is a
    partition-pruned scan of precomputed signatures (gated in
    tests/test_functions.py::test_lsh_prebuilt_matches_in_query)."""
    from pyspark.sql import functions as F

    from proj_4_spark.functions.ann_index import lsh_topk_prebuilt

    path = _ensure_ann_index(spark, sf_dir, "lsh")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id < 20").selectExpr("vec_id as q_id",
                                                  "embedding")
    topk = lsh_topk_prebuilt(spark, path, queries, k=5, multiprobe=2,
                             raw_cosine=True)
    return topk.select("q_id", "vec_id", "rank",
                       _i(F.col("cosine"), 1000000).alias("cosine"))


def _q_ann_ivf_prebuilt(spark, sf_dir):
    """Probe-only IVF ANN against a PERSISTED inverted file (same
    quantizer as `ann_ivf_topk`, so the same DuckDB oracle applies);
    probe plan = literal list_id partition pruning + broadcast join."""
    from pyspark.sql import functions as F

    from proj_4_spark.functions.ann_index import ivf_topk_prebuilt

    path = _ensure_ann_index(spark, sf_dir, "ivf")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id < 20").selectExpr("vec_id as q_id",
                                                  "embedding")
    topk = ivf_topk_prebuilt(spark, path, queries, k=5, n_probe=6,
                             raw_cosine=True)
    return topk.select("q_id", "vec_id", "rank",
                       _i(F.col("cosine"), 1000000).alias("cosine"))


def _q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard verification on the LSH candidate pairs;
    DuckDB recomputes candidates AND the exact Jaccard from the shingle
    sets (rational inter/union -> identical doubles both sides)."""
    from pyspark.sql import functions as F

    from proj_4_spark.functions.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5,
                              num_perm=32, bands=8)
    return out.select("id_a", "id_b", _i(F.col("jaccard"), 10000).alias("jac"))


def _q_simhash(spark, sf_dir):
    from proj_4_spark.functions.dedup import simhash_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_col(docs, "text", "doc_id").select("doc_id", "simhash")


def _q_events_window(spark, sf_dir):
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), _i(F.sum("value"), 100).alias("sum_value"))
    )


def _q_tpch_q1(spark, sf_dir):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _i(F.sum("l_quantity"), 100).alias("sum_qty"),
            _i(F.sum("l_extendedprice"), 100).alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
    )


def _q_revenue_by_nation(spark, sf_dir):
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(_i(F.sum("o_totalprice"), 100).alias("revenue"),
             F.count("*").alias("n_orders"))
    )


def _docs_fixture_path() -> str:
    """Deterministic interleaved-doc fixture shared by the Spark query
    AND its DuckDB oracle (same parquet bytes on both sides)."""
    from proj_4_spark.docs.synth import synthesize_arrow
    from proj_4_spark.sources.fixtures import ensure_fixture

    return ensure_fixture("docs_geo_input.parquet",
                          lambda: synthesize_arrow(4000))


def _q_docs_geo_pipeline(spark, sf_dir):
    """Flagship: interleaved documents -> media geo-tags -> webmerc ->
    tile histogram.  Value-verified: the DuckDB oracle recomputes the
    whole chain (unnest spans, regexp geo-tag parse, spherical webmerc,
    integer tiles) from the SAME parquet fixture."""
    from pyspark.sql import functions as F

    from proj_4_spark.docs.media import explode_media_points
    from proj_4_spark.engine.spark import transform
    from proj_4_spark.spatial.tiles import assign_tiles

    docs = spark.read.parquet(_docs_fixture_path())
    pts = explode_media_points(docs)
    wm = transform(pts, "+proj=webmerc +ellps=WGS84", x="lon", y="lat",
                   out_prefix="wm_", keep_errors=False)
    tiled = assign_tiles(wm, x="wm_x", y="wm_y", zoom=6)
    return tiled.groupBy("zoom", "tile_x", "tile_y").agg(F.count("*").alias("n"))


def _multimodal_fixture_path() -> str:
    """Expected features per media_id, computed driver-side (no Spark)
    from the same deterministic payload bytes + feature math."""
    import proj_4_spark.sources.fixtures as FX

    return FX.ensure_fixture("multimodal_expected.parquet",
                             FX.multimodal_expected_table)


def _q_multimodal_features(spark, sf_dir):
    """Multimodal decode + feature extraction over REAL payloads
    (pure-NumPy BMP/WAV/Y4M codecs; jpeg/mp4 remain stubbed behind
    DecodeUnavailable).  Value-verified: the DuckDB oracle reads a
    driver-side fixture of expected features (same payload generator +
    per-payload math, zero Spark), so what this gate checks is the
    mapInPandas decode plumbing itself."""
    from pyspark.sql import functions as F

    from proj_4_spark.functions.multimodal import extract_features, synth_media_table

    media = synth_media_table(spark, 300)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        F.col("meta.media_type").alias("media_type"),
        _i(F.col("features")[0], 10000).alias("f_mean_i"),
        _i(F.col("features")[1], 10000).alias("f_std_i"),
    )


def _stream_input_dir() -> str:
    """Directory-shaped copy of the docs fixture (Spark's file stream
    source reads directories): fixtures/docs_geo_stream_input/."""
    import shutil

    import proj_4_spark.sources.fixtures as FX

    src = _docs_fixture_path()
    d = os.path.join(FX.FIXTURE_DIR, "docs_geo_stream_input")
    dst = os.path.join(d, "docs.parquet")
    if not os.path.exists(dst):
        os.makedirs(d, exist_ok=True)
        shutil.copyfile(src, dst)
    return d


def _q_stream_geo_tiles(spark, sf_dir):
    """The flagship doc-geo pipeline as a STRUCTURED STREAM, driven to
    completion with an availableNow trigger: file stream source ->
    explode media spans -> event-time ts (minutes derived from doc_id,
    spanning three 10-minute windows) -> streaming/events.
    stream_geo_tiles (watermark + windowed tile histogram) -> memory
    sink.  Value-verified: the DuckDB oracle recomputes the whole chain
    batch-side from the same parquet — stream==batch checked by the
    driver, not just pytest."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from proj_4_spark.docs.media import explode_media_points
    from proj_4_spark.streaming.events import stream_geo_tiles

    schema = spark.read.parquet(_docs_fixture_path()).schema
    docs = (spark.readStream.schema(schema)
            .parquet(_stream_input_dir()))
    pts = explode_media_points(docs).withColumn(
        "ts",
        F.expr("timestamp'2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, "
               "cast(substring(doc_id, 5, 12) as bigint) % 25, 0)"),
    )
    tiles = stream_geo_tiles(pts, zoom=6, window="10 minutes",
                             watermark="15 minutes")
    name = f"stream_geo_tiles_{uuid.uuid4().hex[:8]}"
    q = (tiles.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation",
                 os.path.join(tempfile.mkdtemp(), "ckpt"))
         .trigger(availableNow=True).start())
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream_geo_tiles did not finish within 300 s")
    return spark.table(name).select(
        F.date_format("window_start", "mm").alias("win"),
        "tile_x", "tile_y", "n",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "utm_roundtrip": _q_utm_roundtrip,
        "merc_fwd": _q_merc_fwd,
        "webmerc_tiles": _q_webmerc_tiles,
        "cell_counts": _q_cell_counts,
        "eqc_fwd": _q_eqc_fwd,
        "cart_fwd": _q_cart_fwd,
        "helmert_7param": _q_helmert,
        "lcc_fwd": _q_lcc_fwd,
        "aea_fwd": _q_aea_fwd,
        "esri_usa_albers": _q_esri_albers,
        "axisswap": _q_axisswap,
        "unitconvert": _q_unitconvert,
        "pipeline_datum_shift": _q_pipeline_composed,
        "towgs84_datum_shift": _q_towgs84_shift,
        "laea_inverse": _q_laea_inverse,
        "lcc_inverse": _q_lcc_inverse,
        "aea_inverse": _q_aea_inverse,
        "geos_inverse": _q_geos_inverse,
        "utm_inverse": _q_utm_inverse,
        "boundcrs_text_shift": _q_boundcrs_text_shift,
        "projjson_text_merc": _q_projjson_text_merc,
        "compound_geoid": _q_compound_geoid,
        "nad27_catalog_routed": _q_nad27_catalog_routed,
        "proj_factors": _q_proj_factors,
        "pip_rect_zones": _q_pip_rect,
        "pip_cells_zones": _q_pip_cells,
        "knn_cell_partitioned": _q_knn,
        "knn_haversine": _q_knn_haversine,
        "dedup_exact": _q_dedup_exact,
        "text_stats": _q_text_stats,
        "lang_id": _q_lang_id,
        "alt_op_select": _q_alt_op_select,
        "polygon_area_sphere": _q_polygon_area_sphere,
        "knn_karney_sphere": _q_knn_karney_sphere,
        "geodesic_waypoints_sphere": _q_geodesic_waypoints_sphere,
        "ann_cosine_topk": _q_ann_cosine,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "ann_lsh_prebuilt": _q_ann_lsh_prebuilt,
        "ann_ivf_prebuilt": _q_ann_ivf_prebuilt,
        "minhash_lsh_pairs": _q_minhash_pairs,
        "ngram_jaccard": _q_ngram_jaccard,
        "simhash": _q_simhash,
        "events_hourly": _q_events_window,
        "tpch_q1": _q_tpch_q1,
        "revenue_by_nation": _q_revenue_by_nation,
        "docs_geo_pipeline": _q_docs_geo_pipeline,
        "stream_geo_tiles": _q_stream_geo_tiles,
        "multimodal_features": _q_multimodal_features,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _egm96_cells_path() -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", "egm96_grid_cells.parquet")


def _hgrid_cells_path(name: str) -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", f"{name}_grid_cells.parquet")


def _nad27_oracle_sql() -> str:
    """DuckDB re-interpolation of the NADCON conus/alaska CTable2 shift
    arrays, mirroring kernels/gridshift.py _interp_grid term-for-term
    (grid header constants read from the same files; the m00..m11
    weight products and the left-associated delta sum exactly as
    grids.cpp:2932-2940; fwd adds the deltas).  Candidate routing is
    pinned by construction: even event_ids sit in the conus-only bbox
    (chosen 0), odd ones in the alaska east-split bbox (chosen 2)."""
    from proj_4_spark.sources.grids import load_hgrids

    def branch(tag, g, cells, chosen):
        d = (
            f"{tag}g as (select event_id, lam, phi, "
            f"(lam - ({g.west!r})) / ({g.resx!r}) as gl, "
            f"(phi - ({g.south!r})) / ({g.resy!r}) as gp "
            f"from ang where chosen = {chosen}), "
            f"{tag}f as (select event_id, lam, phi, "
            "cast(floor(gl) as int) as ix, cast(floor(gp) as int) as iy, "
            "gl - floor(gl) as fl, gp - floor(gp) as fp "
            f"from {tag}g), "
        )
        def mix(col):
            return (
                f"(((((1.0 - t.fl) * (1.0 - t.fp)) * a.{col} + "
                f"(t.fl * (1.0 - t.fp)) * b.{col}) + "
                f"((1.0 - t.fl) * t.fp) * c.{col}) + "
                f"(t.fl * t.fp) * d.{col})"
            )
        d += (
            f"{tag}res as (select t.event_id, {chosen} as chosen, "
            f"t.lam + {mix('dlon')} as ox, "
            f"t.phi + {mix('dlat')} as oy "
            f"from {tag}f t "
            f"join read_parquet('{cells}') a on a.iy = t.iy and a.ix = t.ix "
            f"join read_parquet('{cells}') b on b.iy = t.iy "
            "and b.ix = t.ix + 1 "
            f"join read_parquet('{cells}') c on c.iy = t.iy + 1 "
            "and c.ix = t.ix "
            f"join read_parquet('{cells}') d on d.iy = t.iy + 1 "
            "and d.ix = t.ix + 1), "
        )
        return d

    cg = load_hgrids("conus")[0]
    ag = load_hgrids("alaska")[0]
    return (
        "with pts as (select event_id, "
        "case when event_id % 2 = 0 then -115.0 + (event_id * 7 % 2000) "
        "/ 100.0 else -160.0 + (event_id * 7 % 1800) / 100.0 end as lon, "
        "case when event_id % 2 = 0 then 30.0 + (event_id * 11 % 1500) "
        "/ 100.0 else 58.0 + (event_id * 11 % 900) / 100.0 end as lat, "
        "case when event_id % 2 = 0 then 0 else 2 end as chosen "
        "from events), "
        "ang as (select event_id, chosen, radians(lon) as lam, "
        "radians(lat) as phi from pts), "
        + branch("c", cg, _hgrid_cells_path("conus"), 0)
        + branch("a", ag, _hgrid_cells_path("alaska"), 2)
        + "sel as (select * from cres union all select * from ares) "
        "select event_id, "
        "cast(round(ox * 100000000000.0, 0) as bigint) as lam83, "
        "cast(round(oy * 100000000000.0, 0) as bigint) as phi83, "
        "cast(chosen as int) as chosen from sel"
    )


def _grid_gated(build: Callable[[], str], *grids: str) -> str:
    """An oracle that reads grid files: `build()`'s SQL when every grid
    resolves, else SQL that fails with `grid absent: <file>` when run,
    so a missing grid fails only its own entry."""
    from proj_4_spark.sources.grids import resolve_grid_path

    for g in grids:
        try:
            resolve_grid_path(g)
        except FileNotFoundError:
            return f"select error('grid absent: {g}')"
    return build()


def _compound_geoid_oracle_sql() -> str:
    """DuckDB bilinear re-interpolation of the egm96 grid, mirroring
    kernels/gridshift.py vgrid_value term-for-term: same float64 grid
    header constants (read from the same file), the full-world
    double-mod longitude wrap written as the literal a-floor(a/n)*n
    formula, clip-free indices (all sf points sit inside the grid), the
    left-associated corner-weight sum, and the vgridshift forward
    multiplier=-1."""
    from proj_4_spark.sources.grids import load_vgrids

    g = load_vgrids("egm96_15.gtx")[0]
    cells = _egm96_cells_path()
    w, h = g.width, g.height
    return (
        f"with pts as ({GEO_SQL_SRC}), "
        "ang as (select event_id, radians(lon) as lam, radians(lat) as phi "
        "from pts), "
        "g1 as (select event_id, "
        f"(lam - ({g.west!r})) / ({g.resx!r}) as gx0, "
        f"(phi - ({g.south!r})) / ({g.resy!r}) as gy from ang), "
        "g2 as (select event_id, gy, "
        f"(gx0 + {float(w)!r}) - floor((gx0 + {float(w)!r}) / {float(w)!r})"
        f" * {float(w)!r} as r1 from g1), "
        "g3 as (select event_id, gy, "
        f"(r1 + {float(w)!r}) - floor((r1 + {float(w)!r}) / {float(w)!r})"
        f" * {float(w)!r} as gx from g2), "
        "f as (select event_id, "
        "cast(floor(gx) as int) as ix, cast(floor(gy) as int) as iy, "
        "gx - floor(gx) as fx, gy - floor(gy) as fy from g3), "
        "wi as (select event_id, ix, iy, fx, fy, "
        f"case when ix + 1 >= {w} then 0 else ix + 1 end as ix2, "
        f"case when iy + 1 > {h - 1} then {h - 1} else iy + 1 end as iy2 "
        "from f), "
        "v as (select wi.event_id, wi.fx, wi.fy, "
        "a.v as va, b.v as vb, c.v as vc, d.v as vd from wi "
        f"join read_parquet('{cells}') a on a.iy = wi.iy and a.ix = wi.ix "
        f"join read_parquet('{cells}') b on b.iy = wi.iy and b.ix = wi.ix2 "
        f"join read_parquet('{cells}') c on c.iy = wi.iy2 and c.ix = wi.ix "
        f"join read_parquet('{cells}') d on d.iy = wi.iy2 and d.ix = wi.ix2"
        ") "
        "select event_id, cast(round((0.0 + ((((va * ((1.0 - fx) * "
        "(1.0 - fy))) + (vb * (fx * (1.0 - fy)))) + (vc * ((1.0 - fx) * "
        "fy))) + (vd * (fx * fy))) * -1.0) * 10000.0, 0) as bigint) "
        "as z_01mm from v"
    )


def oracle_sql() -> dict[str, str]:
    lam = f"(lon * {_D2R})"
    phi = f"(lat * {_D2R})"

    def sqli(expr: str, scale: int) -> str:
        # integerized float output; see _i()
        return f"cast(round(({expr}) * {scale}.0, 0) as bigint)"

    merc_x = sqli(f"({lam}) * {_A!r}", 100)
    merc_y = sqli(f"(-ln({_sql_tsfn(phi)})) * {_A!r}", 100)

    # webmerc (spherical): y = a * ln(tan(pi/4 + phi/2))
    wm_x = f"(({lam}) * {_A!r})"
    # same total-expression guard as _sql_docs_geo_pipeline: DuckDB may
    # evaluate the projection before the pole filter, and ln(0) aborts.
    wm_y = f"(ln(greatest(tan(pi()/4 + 0.5 * {phi}), 1e-300)) * {_A!r})"
    from proj_4_spark.spatial.cells import cell_sql
    from proj_4_spark.spatial.tiles import tile_sql

    tx, ty = tile_sql(wm_x, wm_y, 8)

    # eqc +lat_ts=30: x = a * (cos(30deg) * lam); y = a * phi
    rc = repr(math.cos(30 * math.pi / 180))
    eqc_x = sqli(f"(({rc} * {lam})) * {_A!r}", 10000)
    eqc_y = sqli(f"({phi}) * {_A!r}", 10000)

    # cart fwd (src/conversions/cart.cpp:132-147)
    N = f"({_A!r} / sqrt(1.0 - {_ES!r} * sin({phi}) * sin({phi})))"
    cart_x = sqli(f"({N} + 0.0) * cos({phi}) * cos({lam})", 100)
    cart_y = sqli(f"({N} + 0.0) * cos({phi}) * sin({lam})", 100)
    cart_z = sqli(f"({N} * (1.0 - {_ES!r})) * sin({phi})", 100)

    # helmert 7-param position_vector small-angle (helmert.cpp:261-307)
    AS2R = math.pi / 180.0 / 3600.0
    rx, ry, rz = 0.1 * AS2R, 0.2 * AS2R, 0.3 * AS2R
    scale = 1 + 2.5 * 1e-6
    R = [[1.0, -rz, ry], [rz, 1.0, -rx], [-ry, rx, 1.0]]
    hx = sqli(f"{scale!r} * ({R[0][0]!r} * gx + {R[0][1]!r} * gy + {R[0][2]!r} * gz) + 67.8", 10000)
    hy = sqli(f"{scale!r} * ({R[1][0]!r} * gx + {R[1][1]!r} * gy + {R[1][2]!r} * gz) + -106.3", 10000)
    hz = sqli(f"{scale!r} * ({R[2][0]!r} * gx + {R[2][1]!r} * gy + {R[2][2]!r} * gz) + -119.2", 10000)

    # lcc constants from the engine's own plan-time setup (same derivation
    # as src/projections/lcc.cpp:80-157; values are plain doubles)
    from proj_4_spark.engine.plan import create_operation

    lcc_op = create_operation("+proj=lcc +ellps=GRS80 +lat_1=33 +lat_2=45 +lat_0=40 +lon_0=-96")
    lq = lcc_op.P.opaque
    # adjlon wrap of (lam - lam0) (src/adjlon.cpp:7-24; fwd_prepare fwd.cpp:88-92)
    raw = f"((lon * {_D2R}) - ({-96.0 * math.pi / 180.0!r}))"
    lcc_lam = (
        f"(case when abs({raw}) < pi() + 1e-12 then {raw} "
        f"else ({raw} + pi()) - 2*pi()*floor(({raw} + pi())/(2*pi())) - pi() end)"
    )
    lcc_rho = f"({lq['c']!r} * pow({_sql_tsfn(phi)}, {lq['n']!r}))"
    lcc_x = sqli(f"({lcc_rho} * sin({lq['n']!r} * {lcc_lam})) * {_A!r}", 100)
    lcc_y = sqli(f"({lq['rho0']!r} - {lcc_rho} * cos({lq['n']!r} * {lcc_lam})) * {_A!r}", 100)

    aea_op = create_operation("+proj=aea +ellps=GRS80 +lat_1=29.5 +lat_2=45.5")
    aq = aea_op.P.opaque
    aea_rho = f"({aq['dd']!r} * sqrt({aq['c']!r} - {aq['n']!r} * {_sql_qsfn(f'sin({phi})')}))"
    aea_x = sqli(f"({aea_rho} * sin({aq['n']!r} * {lam})) * {_A!r}", 100)
    aea_y = sqli(f"({aq['rho0']!r} - {aea_rho} * cos({aq['n']!r} * {lam})) * {_A!r}", 100)

    # ESRI:102003 (USA Contiguous Albers) resolved through the GENERATED
    # catalog: same Albers closed form with that CRS's constants and the
    # lon_0=-96 adjlon wrap (per-point math all in SQL; the kernel only
    # contributes the setup scalars n/c/dd/rho0, like lcc/aea above)
    from proj_4_spark.sources.initfiles import resolve_init
    ea_op = create_operation(
        "+" + " +".join(resolve_init("ESRI:102003").split()),
        emulation=False)
    eq_ = ea_op.P.opaque
    ea_raw = f"((lon * {_D2R}) - ({-96.0 * math.pi / 180.0!r}))"
    ea_lam = (
        f"(case when abs({ea_raw}) < pi() + 1e-12 then {ea_raw} "
        f"else ({ea_raw} + pi()) - 2*pi()*floor(({ea_raw} + pi())/(2*pi())) - pi() end)"
    )
    ea_rho = f"({eq_['dd']!r} * sqrt({eq_['c']!r} - {eq_['n']!r} * {_sql_qsfn(f'sin({phi})')}))"
    ea_x = sqli(f"({ea_rho} * sin({eq_['n']!r} * {ea_lam})) * {_A!r}", 100)
    ea_y = sqli(f"({eq_['rho0']!r} - {ea_rho} * cos({eq_['n']!r} * {ea_lam})) * {_A!r}", 100)

    # pipeline cart->helmert(+10,-20,+30)->cart_inv oracle: closed-form
    # cart fwd, add, cart inv (Bowring closed form, cart.cpp:150-205)
    B = _A * math.sqrt(1 - _ES)
    E2S = _ES / (1 - _ES)
    px = f"({N} * cos({phi}) * cos({lam}) + 10.0)"
    py = f"({N} * cos({phi}) * sin({lam}) + -20.0)"
    pz = f"({N} * (1.0 - {_ES!r}) * sin({phi}) + 30.0)"
    pp = f"sqrt({px} * {px} + {py} * {py})"
    ptheta_y = f"({pz} * {_A!r})"
    ptheta_x = f"({pp} * {B!r})"
    pnorm = f"sqrt({ptheta_y} * {ptheta_y} + {ptheta_x} * {ptheta_x})"
    pc = f"({ptheta_x} / {pnorm})"
    ps = f"({ptheta_y} / {pnorm})"
    py_phi = f"({pz} + {E2S!r} * {B!r} * {ps} * {ps} * {ps})"
    px_phi = f"({pp} - {_ES!r} * {_A!r} * {pc} * {pc} * {pc})"
    out_phi = f"atan({py_phi} / {px_phi})"
    out_lam = f"atan2({py}, {px})"
    pipe_lon = sqli(f"{out_lam} / {_D2R}", 1000000)
    pipe_lat = sqli(f"{out_phi} / {_D2R}", 1000000)

    # towgs84_datum_shift oracle: cart fwd on WGS84 -> EXACT 7-param
    # position-vector helmert INVERSE (transpose multiply,
    # helmert.cpp:403-436) -> cart inv on the local ellipsoid (Bowring
    # closed form incl. the height, cart.cpp:150-205; the synthetic
    # points avoid the polar/near-origin branches).  All scalar
    # constants come from the given op's plan-time setup (repr'd
    # doubles) — shared by the proj-string and WKT2-BOUNDCRS-text
    # variants of the query.
    from proj_4_spark.kernels.helmert import _params_at as _helmert_params

    def _towgs84_chain_sql(dm_op) -> str:
        hq = dm_op.P.helmert.P.opaque
        (htx, hty, htz), hs_ppm, _, hR = _helmert_params(hq, hq["t_epoch"])
        hs = 1 + hs_ppm * 1e-6
        wP = dm_op.P.cart_wgs84.P
        bP = dm_op.P.cart.P
        wN = f"({wP.a!r} / sqrt(1.0 - {wP.es!r} * sin({phi}) * sin({phi})))"
        wx = f"({wN} * cos({phi}) * cos({lam}))"
        wy = f"({wN} * cos({phi}) * sin({lam}))"
        wz = f"({wN} * (1.0 - {wP.es!r}) * sin({phi}))"
        dxs = f"(({wx} - {htx!r}) / {hs!r})"
        dys = f"(({wy} - {hty!r}) / {hs!r})"
        dzs = f"(({wz} - {htz!r}) / {hs!r})"
        dbx = f"({hR[0][0]!r} * {dxs} + {hR[1][0]!r} * {dys} + {hR[2][0]!r} * {dzs})"
        dby = f"({hR[0][1]!r} * {dxs} + {hR[1][1]!r} * {dys} + {hR[2][1]!r} * {dzs})"
        dbz = f"({hR[0][2]!r} * {dxs} + {hR[1][2]!r} * {dys} + {hR[2][2]!r} * {dzs})"
        dm_lam = sqli(f"atan2({dby}, {dbx}) / {_D2R}", 1000000)
        dm_phi = f"atan(dm_yph / dm_xph)"
        dm_lat = sqli(f"{dm_phi} / {_D2R}", 1000000)
        dm_nb = (f"({bP.a!r} / sqrt(1.0 - {bP.es!r} * "
                 f"(dm_yph / dm_nph) * (dm_yph / dm_nph)))")
        dm_h = sqli(f"dm_p / (dm_xph / dm_nph) - {dm_nb}", 10000)
        # staged via nested subselects (the lateral-alias
        # textual-expansion lesson): each Bowring intermediate computed
        # once per level
        return (
            "select event_id, dm_lam as dlon, "
            f"{dm_lat} as dlat, {dm_h} as dh from ("
            "select event_id, dm_lam, dm_p, dm_yph, dm_xph, "
            "sqrt(dm_yph * dm_yph + dm_xph * dm_xph) as dm_nph from ("
            "select event_id, dm_lam, dm_p, "
            f"(dm_z + {bP.e2s!r} * {bP.b!r} * dm_s * dm_s * dm_s) as dm_yph, "
            f"(dm_p - {bP.es!r} * {bP.a!r} * dm_c * dm_c * dm_c) as dm_xph "
            "from ("
            "select event_id, dm_lam, dm_p, dm_z, "
            "(dm_p * dm_bb) / dm_nrm as dm_c, "
            "(dm_z * dm_aa) / dm_nrm as dm_s from ("
            "select event_id, dm_lam, dm_p, dm_z, dm_aa, dm_bb, "
            "sqrt(dm_z * dm_aa * dm_z * dm_aa + dm_p * dm_bb * dm_p * dm_bb)"
            " as dm_nrm from ("
            "select event_id, "
            f"{dm_lam} as dm_lam, "
            f"sqrt({dbx} * {dbx} + {dby} * {dby}) as dm_p, "
            f"{dbz} as dm_z, {bP.a!r} as dm_aa, {bP.b!r} as dm_bb "
            f"from ({GEO_SQL_SRC})"
            ")))))"
        )

    towgs84_sql = _towgs84_chain_sql(create_operation(_TOWGS84_PS))
    boundcrs_sql = _towgs84_chain_sql(create_operation(_BOUNDCRS_WKT))

    # laea_inverse oracle: laea.cpp:140-186 oblique ellipsoidal inverse
    # + the 3-term authalic-latitude series (auth.cpp:33-38), constants
    # from the op's plan-time setup; center rows guarded like the kernel
    la_op = create_operation(_LAEA_PS)
    laq = la_op.P.opaque
    la_lon0 = la_op.P.lam0
    la_src = ("select event_id, "
              "(event_id * 7919 % 4000000) - 2000000.0 as px, "
              "(event_id * 104729 % 4000000) - 2000000.0 as py "
              "from events")
    # lcc_inverse / aea_inverse source grid (mirrors _conic_inv_points)
    conic_inv_src = ("select event_id, "
                     "(event_id * 6271 % 4000000) - 2000000.0 as px, "
                     "(event_id * 104729 % 3000000) - 1500000.0 as py "
                     "from events")

    # geos_inverse oracle: geos.cpp inverse (closed ray/ellipsoid
    # intersection) replayed term-for-term; constants from the op's
    # own setup (every input row is inside the visibility disc)
    g_op = create_operation(_GEOS_PS)
    g_h = g_op.P.param_f("h")
    g_rg1 = g_h / g_op.P.a
    g_rg = 1.0 + g_rg1
    g_Cq = g_rg * g_rg - 1.0
    g_rp = math.sqrt(g_op.P.one_es)
    g_rpi2 = g_op.P.rone_es
    g_bb = 2.0 * g_rg * -1.0
    geos_steps = [
        f"(px / {g_op.P.a!r}) as xm_",
        f"(py / {g_op.P.a!r}) as ym_",
        f"tan(xm_ / {g_rg1!r}) as vy_",
        f"tan(ym_ / {g_rg1!r}) * sqrt(1.0 + vy_ * vy_) as vz_",
        f"vz_ / {g_rp!r} as azp_",
        "vy_ * vy_ + azp_ * azp_ + 1.0 as aa_",
        f"{g_bb * g_bb!r} - 4.0 * aa_ * {g_Cq!r} as det_",
        f"({-g_bb!r} - sqrt(greatest(det_, 0.0))) / (2.0 * aa_) as k_",
        f"{g_rg!r} + k_ * -1.0 as vx2_",
        "vy_ * k_ as vy2_",
        "vz_ * k_ as vz2_",
        "atan2(vy2_, vx2_) as lamk_",
        f"atan({g_rpi2!r} * tan(atan(vz2_ * cos(lamk_) / vx2_)))"
        " as phi_",
        f"lamk_ + {g_op.P.lam0!r} as lam_",
    ]
    geos_q = ("select event_id, px, py from (select event_id, "
              "(event_id * 9973 % 7400000) - 3700000.0 as px, "
              "(event_id * 104729 % 7400000) - 3700000.0 as py "
              "from events)")
    for s in geos_steps:
        geos_q = f"select *, {s} from ({geos_q})"
    la_apa = laq["apa"]
    la_authlat = (
        "(la_beta"
        f" + {la_apa[0]!r} * sin(2.0 * la_beta)"
        f" + {la_apa[1]!r} * sin(4.0 * la_beta)"
        f" + {la_apa[2]!r} * sin(6.0 * la_beta))"
    )
    la_raw = (
        f"(case when la_rho < 1e-10 then 0.0 else "
        f"atan2(la_x * la_sce, "
        f"la_rho * {laq['cosb1']!r} * la_cce"
        f" - la_y * {laq['sinb1']!r} * la_sce) end + {la_lon0!r})"
    )
    # inv_finalize adjlon wrap (+lon_0 can push atan2 output past pi)
    la_lam = (
        f"(case when abs({la_raw}) < pi() + 1e-12 then {la_raw} "
        f"else ({la_raw} + pi()) - 2*pi()*floor(({la_raw} + pi())/(2*pi())) - pi() end)"
    )
    laea_inv_sql = (
        "select event_id, "
        f"{sqli(f'{la_lam} / {_D2R}', 1000000)} as ilon, "
        f"{sqli(f'(case when la_rho < 1e-10 then {la_op.P.phi0!r} else {la_authlat} end) / {_D2R}', 1000000)}"
        " as ilat from ("
        "select event_id, la_x, la_y, la_rho, la_sce, la_cce, "
        f"asin(greatest(least((case when la_rho < 1e-10 then 0.0 else "
        f"la_cce * {laq['sinb1']!r}"
        f" + la_y * la_sce * {laq['cosb1']!r} / la_rho end), 1.0), -1.0))"
        " as la_beta from ("
        "select event_id, la_x, la_y, la_rho, "
        "sin(la_sce0) as la_sce, cos(la_sce0) as la_cce from ("
        "select event_id, la_x, la_y, la_rho, "
        f"2.0 * asin(greatest(least(0.5 * la_rho / {laq['rq']!r}, 1.0),"
        " -1.0)) as la_sce0 from ("
        "select event_id, la_x, la_y, "
        "sqrt(la_x * la_x + la_y * la_y) as la_rho from ("
        "select event_id, "
        f"(px / {la_op.P.a!r}) / {laq['dd']!r} as la_x, "
        f"(py / {la_op.P.a!r}) * {laq['dd']!r} as la_y "
        f"from ({la_src})"
        ")))))"
    )

    zone_rows = " union all ".join(
        f"select '{z}' as zone_id, {a!r} as zmin_lon, {b!r} as zmin_lat, "
        f"{c!r} as zmax_lon, {d!r} as zmax_lat"
        for z, a, b, c, d in RECT_ZONES
    )

    from proj_4_spark.functions.text import (
        fingerprint_sql,
        lang_id_sql,
        quality_score_sql,
        token_count_sql,
    )

    utm_src = (
        "select event_id, (lon / 3.0 + 9.0) as lon, lat "
        f"from ({GEO_SQL_SRC})"
    )
    utm_fwd = _sql_etmerc_fwd_select(
        utm_src, "+proj=utm +zone=32 +ellps=GRS80",
        lon0_deg=9.0, x0=500000.0, y0=0.0,
    )

    return {
        "utm_roundtrip": (
            f"select event_id, {sqli('fx', 100)} as fx_cm, "
            f"{sqli('fy', 100)} as fy_cm, true as ok from ({utm_fwd})"
        ),
        "merc_fwd": (
            f"select event_id, {merc_x} as x_cm, {merc_y} as y_cm from ({GEO_SQL_SRC})"
        ),
        "webmerc_tiles": (
            f"select {tx} as tile_x, {ty} as tile_y, count(*) as n "
            f"from ({GEO_SQL_SRC}) group by 1, 2"
        ),
        "cell_counts": (
            f"select {cell_sql('lon', 'lat', 7)} as cell, count(*) as n "
            f"from ({GEO_SQL_SRC}) group by 1"
        ),
        "eqc_fwd": (
            f"select event_id, {eqc_x} as x_m, {eqc_y} as y_m from ({GEO_SQL_SRC})"
        ),
        "cart_fwd": (
            f"select event_id, {cart_x} as cx, {cart_y} as cy, {cart_z} as cz "
            f"from ({GEO_SQL_SRC})"
        ),
        "helmert_7param": (
            f"select event_id, {hx} as hx, {hy} as hy, {hz} as hz from ({XYZ_SQL_SRC})"
        ),
        "lcc_fwd": (
            f"select event_id, {lcc_x} as x_cm, {lcc_y} as y_cm from ({GEO_SQL_SRC})"
        ),
        "aea_fwd": (
            f"select event_id, {aea_x} as x_cm, {aea_y} as y_cm from ({GEO_SQL_SRC})"
        ),
        "esri_usa_albers": (
            f"select event_id, {ea_x} as x_cm, {ea_y} as y_cm from ({GEO_SQL_SRC})"
        ),
        "axisswap": (
            f"select event_id, lat as sx, -lon as sy from ({GEO_SQL_SRC})"
        ),
        "unitconvert": (
            f"select event_id, {sqli('gx * (1.0/1000.0)', 1000000)} as ux, "
            f"{sqli('gy * (1.0/1000.0)', 1000000)} as uy, "
            f"{sqli(f'gz * (1.0/{0.304800609601219!r})', 1000000)} as uz "
            f"from ({XYZ_SQL_SRC})"
        ),
        "pipeline_datum_shift": (
            f"select event_id, {pipe_lon} as plon, {pipe_lat} as plat from ({GEO_SQL_SRC})"
        ),
        "towgs84_datum_shift": towgs84_sql,
        "laea_inverse": laea_inv_sql,
        "lcc_inverse": (
            f"select event_id, {sqli(f'lam_ / {_D2R}', 1000000)} as "
            f"ilon, {sqli(f'phi_ / {_D2R}', 1000000)} as ilat "
            f"from ({_sql_conic_inv_select(conic_inv_src, _LCC_INV_PS)})"
        ),
        "aea_inverse": (
            f"select event_id, {sqli(f'lam_ / {_D2R}', 1000000)} as "
            f"ilon, {sqli(f'phi_ / {_D2R}', 1000000)} as ilat "
            f"from ({_sql_conic_inv_select(conic_inv_src, _AEA_INV_PS)})"
        ),
        "geos_inverse": (
            f"select event_id, {sqli(f'lam_ / {_D2R}', 1000000)} as "
            f"ilon, {sqli(f'phi_ / {_D2R}', 1000000)} as ilat "
            f"from ({geos_q})"
        ),
        "utm_inverse": (
            f"select event_id, {sqli(f'lam_ / {_D2R}', 1000000)} as "
            f"ilon, {sqli(f'phi_ / {_D2R}', 1000000)} as ilat from ("
            + _sql_etmerc_inv_select(
                "select event_id, "
                "(event_id * 6761 % 800000) + 100000.0 as px, "
                "(event_id * 104729 % 9100000) + 100000.0 as py "
                "from events",
                "+proj=utm +zone=32 +ellps=GRS80",
                x0=500000.0, y0=0.0) + ")"
        ),
        "boundcrs_text_shift": boundcrs_sql,
        "projjson_text_merc": (
            f"select event_id, {merc_x} as x_cm, {merc_y} as y_cm "
            f"from ({GEO_SQL_SRC})"
        ),
        # proj_factors for merc: DuckDB mirrors the engine's own 4-point
        # finite-difference stencil (deriv.cpp) term-by-term so both
        # sides produce the same doubles (libm-ulp noise only, far below
        # the 1e-5 integerization)
        "proj_factors": _sql_merc_factors(),
        "pip_rect_zones": (
            f"select zone_id, count(*) as n from ({GEO_SQL_SRC}) p "
            f"join ({zone_rows}) z on p.lon >= z.zmin_lon and p.lon < z.zmax_lon "
            f"and p.lat >= z.zmin_lat and p.lat < z.zmax_lat group by zone_id"
        ),
        "pip_cells_zones": _sql_pip_cells(),
        "dedup_exact": (
            "select substring(h, 1, 2) as bucket, "
            "cast(count(*) as bigint) as n_groups, "
            "cast(sum(n_docs) as bigint) as n_docs_total from ("
            "select md5(text) as h, count(*) as n_docs from documents group by 1"
            ") group by substring(h, 1, 2)"
        ),
        "text_stats": (
            f"select cast(doc_id as bigint) as doc_id, "
            f"{token_count_sql('text')} as n_tokens, "
            f"{quality_score_sql('text')} as quality, "
            f"{fingerprint_sql('text')} as fp from documents"
        ),
        "lang_id": (
            f"select {lang_id_sql('text')} as pred_lang, count(*) as n "
            f"from documents group by 1"
        ),
        "ann_cosine_topk": (
            "select q_id, vec_id, rank, "
            "cast(round(cosine * 1000000.0, 0) as bigint) as cosine from ("
            "  select q.vec_id as q_id, e.vec_id as vec_id, "
            "  list_cosine_similarity(cast(e.embedding as double[]), "
            "                         cast(q.embedding as double[])) as cosine, "
            "  row_number() over (partition by q.vec_id "
            "    order by list_cosine_similarity(cast(e.embedding as double[]), "
            "                                    cast(q.embedding as double[])) desc, "
            "             e.vec_id) as rank "
            "  from embeddings e cross join (select * from embeddings where vec_id < 20) q"
            ") where rank <= 5"
        ),
        "events_hourly": (
            "select cast(epoch(date_trunc('hour', ts)) as bigint) as hour_epoch, "
            "event_type, count(*) as n, cast(round(sum(value) * 100.0, 0) as bigint) as sum_value "
            "from events group by 1, 2"
        ),
        "tpch_q1": (
            "select l_returnflag, l_linestatus, "
            "cast(round(sum(l_quantity) * 100.0, 0) as bigint) as sum_qty, "
            "cast(round(sum(l_extendedprice) * 100.0, 0) as bigint) as sum_base_price, "
            "count(*) as count_order "
            "from lineitem where l_shipdate <= '1998-09-02' group by 1, 2"
        ),
        "revenue_by_nation": (
            "select n_name, cast(round(sum(o_totalprice) * 100.0, 0) as bigint) as revenue, "
            "count(*) as n_orders from orders "
            "join customer on o_custkey = c_custkey "
            "join nation on c_nationkey = n_nationkey group by 1"
        ),
        # brute-force haversine kNN with identical metric + tie-break:
        # verifies the cell-partitioned join's result set value-for-value
        # the production Karney metric at f=0 == great-circle distance:
        # brute-force recompute on the 6378137 sphere (see
        # _q_knn_karney_sphere for why this value-checks the real path)
        "knn_karney_sphere": (
            "select q_id, doc_id, rank, "
            "cast(round(dist_m * 100.0, 0) as bigint) as dist_cm from ("
            "  select q.event_id::varchar as q_id, p.event_id::varchar as doc_id, "
            "  2.0 * 6378137.0 * asin(least(1.0, sqrt("
            f"    pow(sin((p.lat - q.lat) * {_D2R} / 2.0), 2)"
            f"    + cos(q.lat * {_D2R}) * cos(p.lat * {_D2R})"
            f"    * pow(sin((p.lon - q.lon) * {_D2R} / 2.0), 2)))) as dist_m, "
            "  row_number() over (partition by q.event_id order by "
            "  2.0 * 6378137.0 * asin(least(1.0, sqrt("
            f"    pow(sin((p.lat - q.lat) * {_D2R} / 2.0), 2)"
            f"    + cos(q.lat * {_D2R}) * cos(p.lat * {_D2R})"
            f"    * pow(sin((p.lon - q.lon) * {_D2R} / 2.0), 2)))), "
            "  p.event_id::varchar) as rank "
            f"  from ({GEO_SQL_SRC}) p cross join "
            f"  (select * from ({GEO_SQL_SRC}) where event_id % 211 = 0) q"
            ") where rank <= 5"
        ),
        "knn_haversine": (
            "select q_id, doc_id, rank, "
            "cast(round(dist_m * 1000.0, 0) as bigint) as dist_mm from ("
            "  select q.event_id::varchar as q_id, p.event_id::varchar as doc_id, "
            "  2.0 * 6371000.0 * asin(least(1.0, sqrt("
            f"    pow(sin((p.lat - q.lat) * {_D2R} / 2.0), 2)"
            f"    + cos(q.lat * {_D2R}) * cos(p.lat * {_D2R})"
            f"    * pow(sin((p.lon - q.lon) * {_D2R} / 2.0), 2)))) as dist_m, "
            "  row_number() over (partition by q.event_id order by "
            "  2.0 * 6371000.0 * asin(least(1.0, sqrt("
            f"    pow(sin((p.lat - q.lat) * {_D2R} / 2.0), 2)"
            f"    + cos(q.lat * {_D2R}) * cos(p.lat * {_D2R})"
            f"    * pow(sin((p.lon - q.lon) * {_D2R} / 2.0), 2)))), "
            "  p.event_id::varchar) as rank "
            f"  from ({GEO_SQL_SRC}) p cross join "
            f"  (select * from ({GEO_SQL_SRC}) where event_id % 211 = 0) q"
            ") where rank <= 5"
        ),
        "minhash_lsh_pairs": _sql_minhash_pairs(num_perm=32, bands=8),
        "ngram_jaccard": _sql_ngram_jaccard(num_perm=32, bands=8, threshold=0.5),
        "simhash": _sql_simhash(),
        # approximate ANN paths: hyperplanes/centroids are
        # seed-deterministic, so DuckDB recomputes signatures, probe
        # lists and in-bucket/in-list exact cosine from the same parquet
        "alt_op_select": _sql_alt_op_select(),
        "polygon_area_sphere": _sql_polygon_area_sphere(),
        "geodesic_waypoints_sphere": _sql_geodesic_waypoints_sphere(),
        "ann_lsh_topk": _sql_ann_lsh(n_planes=8, dim=64, seed=42,
                                     multiprobe=2, k=5),
        "ann_ivf_topk": _sql_ann_ivf(n_centroids=16, n_probe=6, dim=64,
                                     seed=42, k=5),
        # the prebuilt probes persist exactly what the in-query paths
        # derive (same planes / quantizer, pinned by parity tests), so
        # the same recompute oracles apply — what differs is the Spark
        # plan (bucket-pruned scan + broadcast probe, no corpus-side
        # signature recompute), not the values
        "ann_lsh_prebuilt": _sql_ann_lsh(n_planes=8, dim=64, seed=42,
                                         multiprobe=2, k=5),
        "ann_ivf_prebuilt": _sql_ann_ivf(n_centroids=16, n_probe=6,
                                         dim=64, seed=42, k=5),
        # flagship: DuckDB recomputes the WHOLE chain from the same
        # parquet fixture — unnest spans, media filter, regexp geo-tag
        # parse, merc error semantics (|lam|>10rad, |phi|-pi/2<=1e-10),
        # spherical webmerc, integer tile assignment, histogram
        "docs_geo_pipeline": _sql_docs_geo_pipeline(),
        # streaming twin: stream==batch, value-verified by the driver
        "stream_geo_tiles": _sql_stream_geo_tiles(),
        # ellipsoidal-Karney kNN: DuckDB independently re-ranks a
        # driver-side brute-force all-pairs fixture (built with the same
        # vectorized Karney kernel but NO cells/rings/Spark — the
        # distributed machinery is what this gate checks; the metric is
        # pinned by the geodtest suites).  1 mm integerization absorbs
        # batch-composition iteration noise far below libm ulp.
        "knn_cell_partitioned": (
            "select q_id, doc_id, rank, "
            "cast(round(dist * 1000.0, 0) as bigint) as dist_mm from ("
            "  select q_id, doc_id, dist, "
            "  row_number() over (partition by q_id order by dist, doc_id)"
            "    as rank "
            f"  from read_parquet('{_knn_karney_fixture_path()}')"
            ") where rank <= 5"
        ),
        # compound CRS + geoid: DuckDB re-interpolates the SAME egm96
        # grid array (fixtures/egm96_grid_cells.parquet, float32 cells
        # upcast exactly) with the kernel's bilinear stencil mirrored
        # term-for-term (kernels/gridshift.py vgrid_value: full-world
        # double-mod wrap, left-associated weight sum, multiplier=-1)
        "compound_geoid": _grid_gated(_compound_geoid_oracle_sql,
                                      "egm96_15.gtx"),
        # catalog-routed NAD27->NAD83: DuckDB re-interpolates the same
        # NADCON CTable2 arrays; routing pinned via the chosen column
        "nad27_catalog_routed": _grid_gated(_nad27_oracle_sql, "conus",
                                            "alaska"),
        # multimodal: expected features computed driver-side from the
        # same deterministic payloads + per-payload math (no Spark) —
        # the gate value-checks the mapInPandas decode plumbing.
        "multimodal_features": (
            "select media_id, media_type, "
            "cast(round(f_mean * 10000.0, 0) as bigint) as f_mean_i, "
            "cast(round(f_std * 10000.0, 0) as bigint) as f_std_i "
            f"from read_parquet('{_multimodal_fixture_path()}')"
        ),
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full interleaved-document geo pipeline at sf0.001."""
    return _q_docs_geo_pipeline(spark, "/root/testdata/sf0.001")
