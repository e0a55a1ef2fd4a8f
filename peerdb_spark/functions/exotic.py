"""Exotic Postgres type ingestion: text-format parsers for interval, hstore,
TIMETZ, inet/cidr/macaddr, and hex-WKB geometry (all seven kinds).

Reference behavior (studied, not copied):
- interval → {years, months, days, hours, minutes, seconds} decomposition
  (flow/connectors/postgres/qvalue_convert.go:195-214 intervalToString,
  flow/shared/datatypes/interval.go). The reference receives (months, days,
  microseconds) from the wire; a parquet/text ingest sees `interval_out`
  text ('1 year 2 mons 3 days 04:05:06.789'), which this module parses to
  the same decomposition.
- hstore → key/value map (flow/shared/datatypes/hstore.go, a port of
  hstore_io.c's `hstore_out` subset: quoted keys, quoted-or-NULL values,
  backslash escapes).
- TIMETZ → UTC-normalized time (qvalue_convert.go:464-485 converts to UTC).
  Here: microseconds-of-day in UTC, wrapped at midnight.
- inet/cidr/macaddr → validated strings (kind.go maps them to string
  destinations; invalid input → NULL like the reference's conversion-failure
  nulling).
- geometry hex-WKB → coordinates (flow/shared/datatypes/geo.go GeoValidate:
  hex → WKB → validate → WKT, SRID-prefixed). All seven kinds decode in
  PURE Spark expressions — the IEEE-754 bit decode is exact
  integer/power-of-two arithmetic, reproducible bit-for-bit in any engine;
  variable-length layouts use dynamic-offset substr + transform, and the
  polygon's data-dependent ring offsets are one aggregate fold; MULTI*
  kinds decompose into complete nested blobs (one length-computing fold +
  substr slices) that the single-geometry decoders re-parse.
  wkb_geometry_wkt renders the geo.go WKT surface (SRID=n; prefix) for all
  seven kinds, incl. GEOMETRYCOLLECTION of simple members (only
  collections nesting MULTI*/collections stay NULL — documented).

Everything is JVM built-in expressions — no Python UDFs — so the parsers
whole-stage-codegen and run at scan throughput at 100 TB.

The geometry decoders are built as SQL TEXT, one string per output column,
and parsed by one F.expr: building the same tree node by node through the
Column API costs one py4j round trip per expression node — seconds per
decoder (4.5 s per q_exotic_types invocation when it did), against
milliseconds for one parse. `let()` binds shared subterms so each appears
once in the plan (fresh lambda-variable names from a module counter, so
nesting never shadows).
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# interval
# ---------------------------------------------------------------------------


def _num(col: Column, pattern: str) -> Column:
    return F.coalesce(F.regexp_extract(col, pattern, 1).try_cast("int"), F.lit(0))


def parse_interval(col: Column) -> Column:
    """Postgres `interval_out` text → struct(years, months, days, hours,
    minutes, seconds decimal(18,6)).

    Handles the standard postgres style: optional '[-]N year[s]',
    '[-]N mon[s]', '[-]N day[s]' and a trailing '[+-]HH:MM:SS[.ffffff]'
    whose sign applies to the whole time part."""
    years = _num(col, r"(-?\d+) years?")
    months = _num(col, r"(-?\d+) mons?")
    days = _num(col, r"(-?\d+) days?")
    tsign = F.when(F.regexp_extract(col, r"(^|\s)(-)\d{2}:\d{2}:\d{2}", 2) == "-",
                   F.lit(-1)).otherwise(F.lit(1))
    hh = _num(col, r"(\d{2}):\d{2}:\d{2}")
    mm = _num(col, r"\d{2}:(\d{2}):\d{2}")
    ss = F.coalesce(
        F.regexp_extract(col, r"\d{2}:\d{2}:(\d{2}(?:\.\d+)?)", 1).try_cast("decimal(18,6)"),
        F.lit(0).cast("decimal(18,6)"),
    )
    return F.struct(
        years.alias("years"),
        months.alias("months"),
        days.alias("days"),
        (tsign * hh).alias("hours"),
        (tsign * mm).alias("minutes"),
        (tsign.cast("decimal(18,6)") * ss).cast("decimal(18,6)").alias("seconds"),
    )


def interval_to_json(col: Column) -> Column:
    """JSON shape matching the reference's intervalToString output."""
    s = parse_interval(col)
    return F.to_json(
        F.struct(
            s["hours"].alias("hours"),
            s["minutes"].alias("minutes"),
            s["seconds"].cast("double").alias("seconds"),
            s["days"].alias("days"),
            s["years"].alias("years"),
            s["months"].alias("months"),
            F.lit(True).alias("valid"),
        )
    )


# ---------------------------------------------------------------------------
# hstore
# ---------------------------------------------------------------------------

# ONE pair-level pattern (key group 1, value group 2): independent key/value
# scans desynchronize when a VALUE is followed by text that looks like a key
# terminator — e.g. '""=>"", "=>"=>NULL' (a key containing '=>'); matching
# whole pairs consumes each value before the next key is considered
# (hypothesis roundtrip test pins this).
_HS_PAIR = r'"((?:[^"\\]|\\.)*)"\s*=>\s*("(?:[^"\\]|\\.)*"|NULL)'


def _unescape(col: Column) -> Column:
    return F.regexp_replace(col, r"\\(.)", "$1")


def parse_hstore(col: Column) -> Column:
    """`hstore_out` text → map<string,string> (NULL values preserved).

    Parses the subset hstore_out emits — '"k"=>"v", "k2"=>NULL' with
    backslash escapes inside quotes (ref: flow/shared/datatypes/hstore.go)."""
    keys = F.transform(F.regexp_extract_all(col, F.lit(_HS_PAIR), F.lit(1)), _unescape)
    vals = F.transform(
        F.regexp_extract_all(col, F.lit(_HS_PAIR), F.lit(2)),
        lambda v: F.when(v == "NULL", F.lit(None).cast("string")).otherwise(
            _unescape(v.substr(F.lit(2), F.length(v) - 2))
        ),
    )
    return F.map_from_arrays(keys, vals)


def hstore_pairs(col: Column) -> Column:
    """Deterministic sorted 'key=>value' array (NULL value → 'key=>NULL') —
    the order-stable projection used by oracles and tests."""
    keys = F.transform(F.regexp_extract_all(col, F.lit(_HS_PAIR), F.lit(1)), _unescape)
    vals = F.transform(
        F.regexp_extract_all(col, F.lit(_HS_PAIR), F.lit(2)),
        lambda v: F.when(v == "NULL", F.lit("NULL")).otherwise(
            _unescape(v.substr(F.lit(2), F.length(v) - 2))
        ),
    )
    return F.array_sort(F.zip_with(keys, vals, lambda k, v: F.concat(k, F.lit("=>"), v)))


# ---------------------------------------------------------------------------
# timetz
# ---------------------------------------------------------------------------

US_PER_DAY = 86_400_000_000


def parse_timetz_micros(col: Column) -> Column:
    """TIMETZ text ('10:23:54.123456+02:30') → UTC microseconds-of-day (long),
    wrapped at midnight (the reference normalizes TIMETZ to UTC,
    qvalue_convert.go:464-485). Unparseable input → NULL."""
    hh = F.regexp_extract(col, r"^(\d{2}):", 1).try_cast("long")
    mm = F.regexp_extract(col, r"^\d{2}:(\d{2})", 1).try_cast("long")
    ss = F.regexp_extract(col, r"^\d{2}:\d{2}:(\d{2})", 1).try_cast("long")
    frac = F.coalesce(
        F.rpad(F.regexp_extract(col, r"\.(\d{1,6})", 1), 6, "0").try_cast("long"), F.lit(0)
    )
    osign = F.when(F.regexp_extract(col, r"([+-])\d{2}(:?\d{2})?$", 1) == "-",
                   F.lit(-1)).otherwise(F.lit(1))
    oh = F.coalesce(F.regexp_extract(col, r"[+-](\d{2})(:?\d{2})?$", 1).try_cast("long"), F.lit(0))
    om = F.coalesce(
        F.regexp_extract(col, r"[+-]\d{2}:?(\d{2})$", 1).try_cast("long"), F.lit(0)
    )
    local_us = (hh * 3600 + mm * 60 + ss) * 1_000_000 + frac
    off_us = osign * (oh * 3600 + om * 60) * 1_000_000
    return F.pmod(local_us - off_us, F.lit(US_PER_DAY))


# ---------------------------------------------------------------------------
# inet / cidr / macaddr
# ---------------------------------------------------------------------------

_OCTET = r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
INET4_RE = rf"^{_OCTET}(\.{_OCTET}){{3}}(/(3[0-2]|[12]?\d))?$"
# pragmatic IPv6 subset: hex groups and colons (incl. '::'), optional
# IPv4-mapped tail ('::ffff:1.2.3.4' — inet_out emits the dotted form),
# optional prefix
INET6_RE = (
    r"^[0-9A-Fa-f]{0,4}(:[0-9A-Fa-f]{0,4}){0,6}"
    rf"(:[0-9A-Fa-f]{{0,4}}|:{_OCTET}(\.{_OCTET}){{3}})"
    r"(/(12[0-8]|1[01]\d|\d{1,2}))?$"
)
MACADDR_RE = r"^([0-9A-Fa-f]{2}:){5}[0-9A-Fa-f]{2}$"


def valid_inet(col: Column) -> Column:
    """inet/cidr text validated (IPv4 octet ranges + prefix bounds; IPv6
    shape subset). Valid → trimmed input, invalid → NULL — mirroring the
    reference's conversion-failure nulling."""
    t = F.trim(col)
    return F.when(t.rlike(INET4_RE) | t.rlike(INET6_RE), t)


def valid_macaddr(col: Column) -> Column:
    t = F.trim(col)
    return F.when(t.rlike(MACADDR_RE), F.lower(t))


# ---------------------------------------------------------------------------
# hex-WKB geometry
# ---------------------------------------------------------------------------
#
# The reference converts EVERY geometry kind via WKB→validate→WKT
# (flow/shared/datatypes/geo.go GeoValidate, used from
# flow/connectors/postgres/qvalue_convert.go:725-731). Each decoder is a
# builder of SQL text (`*_sql`, taking a column name or SQL expression);
# the public functions parse it with one F.expr (see the module doc).
#
# Variable-length layouts decode with pure expressions: dynamic offsets
# via substr(h, pos, len), per-point decode via transform over an index
# sequence, and the polygon's ring-by-ring offsets via ONE aggregate fold
# (each ring's start depends on every prior ring's point count). MULTI*
# and GEOMETRYCOLLECTION bodies are a count followed by COMPLETE nested
# WKB blobs (each with its own byte-order + type header): one fold walks
# them computing each blob's hex LENGTH (points are fixed-size,
# linestrings read their point count, polygons run an inner ring-length
# fold) and slices it out, then the single-geometry builders re-parse
# each slice via transform. Validity is strict — wrong type, wrong total
# length, non-hex, NaN/Inf coordinate, nested blobs of the wrong kind or
# that do not tile the buffer exactly → NULL geometry, mirroring
# GeoValidate's reject-don't-guess behavior.

_ctr = itertools.count()


def fresh(prefix: str = "v") -> str:
    """A lambda-variable name no other builder call returns, so nested
    lambdas never shadow one another."""
    return f"_{prefix}{next(_ctr)}"


def let(bindings: dict[str, str], body) -> str:
    """Single-evaluation let-binding: wrap the bindings in a one-element
    array<struct> and reference them through a higher-order-function lambda
    variable, then get(..., 0) unwraps. Each binding's expression appears
    ONCE in the plan no matter how many times `body` uses it — plain reuse
    inlines, and the decoders nest deep enough that inlining stacks
    multiplicatively (the linestring plan measured 272 KB / ~8 s of
    analysis without it, ~2 KB with). A let under a CASE branch is only
    evaluated when the branch is taken."""
    var = fresh("l")
    fields = ", ".join(f"'{k}', ({e})" for k, e in bindings.items())
    refs = [f"{var}.{k}" for k in bindings]
    return f"get(transform(array(named_struct({fields})), {var} -> ({body(*refs)})), 0)"


def rev_pairs(col: str, n_bytes: int, start: int) -> str:
    """Reverse the byte order of an n-byte hex slice starting at 1-based
    `start` (little-endian → big-endian hex)."""
    parts = [f"substring({col}, {start + 2 * i}, 2)"
             for i in range(n_bytes - 1, -1, -1)]
    return "concat(" + ", ".join(parts) + ")"


def hex_slice(col: str, le: str, start: int, n_bytes: int) -> str:
    return (f"CASE WHEN {le} THEN {rev_pairs(col, n_bytes, start)} "
            f"ELSE substring({col}, {start}, {2 * n_bytes}) END")


def rev_pairs_dyn(col: str, n_bytes: int, start: str) -> str:
    parts = [f"substr({col}, ({start}) + {2 * i}, 2)"
             for i in range(n_bytes - 1, -1, -1)]
    return "concat(" + ", ".join(parts) + ")"


def hex_slice_dyn(col: str, le: str, start: str, n_bytes: int) -> str:
    return let(
        {"st": start},
        lambda st: (f"CASE WHEN {le} THEN {rev_pairs_dyn(col, n_bytes, st)} "
                    f"ELSE substr({col}, {st}, {2 * n_bytes}) END"),
    )


_P52 = float(1 << 52)


def ieee754(hex16: str) -> str:
    """Big-endian 16-hex-char IEEE-754 double decode — exact integer and
    power-of-two arithmetic (reproducible in any engine; Inf/NaN → NULL)."""
    def decode(head: str, m: str) -> str:
        sign = f"(CASE WHEN {head} >= 2048 THEN -1.0D ELSE 1.0D END)"
        e = f"({head} % 2048)"
        frac = f"(CAST({m} AS DOUBLE) / {_P52!r}D)"
        return (
            f"CASE WHEN {e} = 2047 THEN CAST(NULL AS DOUBLE) "
            f"WHEN {e} = 0 AND {m} = 0 THEN {sign} * 0.0D "
            f"WHEN {e} = 0 THEN {sign} * {frac} * power(2.0D, -1022) "
            f"ELSE {sign} * ({frac} + 1.0D) * power(2.0D, {e} - 1023) END"
        )

    return let(
        {"hx": hex16},
        lambda hx: let(
            {"head": f"CAST(conv(substring({hx}, 1, 3), 16, 10) AS BIGINT)",
             "m": f"CAST(conv(substring({hx}, 4, 13), 16, 10) AS BIGINT)"},
            decode,
        ),
    )


def geo_header(col: str):
    """(h, le, base_type, srid, body_pos, structural): the shared (E)WKB
    header decode as SQL text, for the caller to bind through let().
    body_pos is the 1-based hex position right after the header (and the
    SRID when present)."""
    h = f"upper(trim({col}))"
    le = f"(substring({h}, 1, 2) = '01')"
    type_val = f"CAST(conv({hex_slice(h, le, 3, 4)}, 16, 10) AS BIGINT)"
    has_srid = f"(FLOOR(({type_val}) / 536870912) % 2 = 1)"
    base_type = f"(({type_val}) % 536870912)"
    srid = (f"CASE WHEN {has_srid} THEN "
            f"TRY_CAST(conv({hex_slice(h, le, 11, 4)}, 16, 10) AS INT) "
            f"ELSE 0 END")
    body_pos = f"(CASE WHEN {has_srid} THEN 19 ELSE 11 END)"
    structural = (f"(substring({h}, 1, 2) IN ('00', '01') "
                  f"AND {h} RLIKE '^[0-9A-F]*$')")
    return h, le, base_type, srid, body_pos, structural


def points_at(h: str, le: str, base: str, n: str) -> str:
    """n points of 16 bytes each starting at hex position `base` →
    array<struct<x,y>>. Guarded sequence: n=0 yields [] (sequence(0, -1)
    would count DOWN)."""
    i = fresh("i")
    idx = (f"CASE WHEN {n} > 0 THEN sequence(0, {n} - 1) "
           f"ELSE CAST(array() AS ARRAY<INT>) END")
    point = let(
        {"o": f"({base}) + {i} * 32"},
        lambda ov: (f"named_struct("
                    f"'x', {ieee754(hex_slice_dyn(h, le, ov, 8))}, "
                    f"'y', {ieee754(hex_slice_dyn(h, le, f'({ov}) + 16', 8))})"),
    )
    return f"transform({idx}, {i} -> {point})"


def no_bad_coords(pts: str) -> str:
    p = fresh("p")
    return f"(NOT exists({pts}, {p} -> {p}.x IS NULL OR {p}.y IS NULL))"


def wkb_point_sql(col: str) -> str:
    """Builder of `wkb_point`: struct(x, y, srid)."""
    h0 = f"upper(trim({col}))"

    def with_h(h):
        le = f"(substring({h}, 1, 2) = '01')"
        type_val = f"CAST(conv({hex_slice(h, le, 3, 4)}, 16, 10) AS BIGINT)"

        def with_parts(lev, tv):
            has_srid = f"(FLOOR({tv} / 536870912) % 2 = 1)"
            base_type = f"({tv} % 536870912)"
            srid = (f"CASE WHEN {has_srid} THEN "
                    f"TRY_CAST(conv({hex_slice(h, lev, 11, 4)}, 16, 10) AS INT) "
                    f"ELSE 0 END")
            xh = (f"CASE WHEN {has_srid} THEN {hex_slice(h, lev, 19, 8)} "
                  f"ELSE {hex_slice(h, lev, 11, 8)} END")
            yh = (f"CASE WHEN {has_srid} THEN {hex_slice(h, lev, 35, 8)} "
                  f"ELSE {hex_slice(h, lev, 27, 8)} END")
            expected = f"(CASE WHEN {has_srid} THEN 50 ELSE 42 END)"
            ok = (f"({base_type} = 1 AND length({h}) = {expected} "
                  f"AND substring({h}, 1, 2) IN ('00', '01') "
                  f"AND {h} RLIKE '^[0-9A-F]+$')")
            return let(
                {"ok": ok},
                lambda okv: (
                    f"named_struct("
                    f"'x', CASE WHEN {okv} THEN {ieee754(xh)} END, "
                    f"'y', CASE WHEN {okv} THEN {ieee754(yh)} END, "
                    f"'srid', CASE WHEN {okv} THEN {srid} "
                    f"ELSE CAST(NULL AS INT) END)"
                ),
            )

        return let({"le": le, "tv": type_val}, with_parts)

    return let({"h": h0}, with_h)


def wkb_linestring_sql(col: str) -> str:
    """Builder of `wkb_linestring`: struct(srid, points)."""
    h0, le0, bt0, srid0, bp0, ok0 = geo_header(col)

    def with_header(h, le, bt, srid, bp, ok):
        def with_n(n):
            pts_raw = (
                f"CASE WHEN {ok} AND {bt} = 2 AND {n} IS NOT NULL "
                f"AND length({h}) = {bp} + 7 + CAST({n} AS BIGINT) * 32 "
                f"THEN {points_at(h, le, f'{bp} + 8', n)} END"
            )
            return let(
                {"pts": pts_raw},
                lambda pts: let(
                    {"valid": f"({pts} IS NOT NULL AND {no_bad_coords(pts)})"},
                    lambda valid: (
                        f"named_struct("
                        f"'srid', CASE WHEN {valid} THEN {srid} END, "
                        f"'points', CASE WHEN {valid} THEN {pts} END)"
                    ),
                ),
            )

        return let(
            {"n": f"TRY_CAST(conv({hex_slice_dyn(h, le, bp, 4)}, 16, 10) AS INT)"},
            with_n,
        )

    return let(
        {"h": h0, "le": le0, "bt": bt0, "srid": srid0, "bp": bp0, "ok0": ok0},
        with_header,
    )


_GEO_POINT_T = "ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>"


def wkb_polygon_sql(col: str) -> str:
    """Builder of `wkb_polygon`: struct(srid, rings). Ring offsets are
    data-dependent (ring r starts after all points of rings 0..r-1), so the
    decode is one aggregate fold over the ring index carrying (next
    position, rings so far, malformed flag); the final position must land
    exactly at end-of-hex."""
    h0, le0, bt0, srid0, bp0, ok0 = geo_header(col)

    def with_header(h, le, bt, srid, bp, ok):
        acc = fresh("acc")
        i = fresh("i")

        def step_body() -> str:
            def with_np(np_):
                # a ring that would run past the buffer marks the geometry
                # bad (substr past the end yields short slices → conv
                # garbage, so the final exact-length check alone could miss
                # compensating errors)
                return let(
                    {"fits": (f"({np_} IS NOT NULL "
                              f"AND {acc}.pos + 7 + CAST({np_} AS BIGINT) * 32 "
                              f"<= length({h}))")},
                    lambda fits: (
                        f"named_struct("
                        f"'pos', CASE WHEN {fits} THEN {acc}.pos + 8 + {np_} * 32 "
                        f"ELSE {acc}.pos END, "
                        f"'rings', CASE WHEN {fits} THEN concat({acc}.rings, "
                        f"array({points_at(h, le, f'{acc}.pos + 8', np_)})) "
                        f"ELSE {acc}.rings END, "
                        f"'bad', ({acc}.bad OR NOT {fits}))"
                    ),
                )

            return let(
                {"np": (f"TRY_CAST(conv({hex_slice_dyn(h, le, f'{acc}.pos', 4)}, "
                        f"16, 10) AS INT)")},
                with_np,
            )

        def with_n(nrings):
            ring_idx = (f"CASE WHEN {nrings} > 0 THEN sequence(1, {nrings}) "
                        f"ELSE CAST(array() AS ARRAY<INT>) END")
            init = (f"named_struct('pos', {bp} + 8, "
                    f"'rings', CAST(array() AS ARRAY<{_GEO_POINT_T}>), "
                    f"'bad', false)")
            # nrings sanity: every ring needs ≥ 8 hex chars (its count
            # field alone), so a count that cannot fit the buffer is
            # rejected BEFORE sequence() materializes it — a hostile header
            # declaring 2^31 rings in a 20-char buffer would otherwise
            # allocate the index array
            folded_raw = (
                f"CASE WHEN {ok} AND {bt} = 3 AND {nrings} IS NOT NULL "
                f"AND CAST({nrings} AS BIGINT) * 8 <= length({h}) THEN "
                f"aggregate({ring_idx}, {init}, "
                f"({acc}, {i}) -> {step_body()}) END"
            )
            r = fresh("r")
            return let(
                {"folded": folded_raw},
                lambda folded: let(
                    {"ok2": (f"({folded} IS NOT NULL AND NOT {folded}.bad "
                             f"AND {folded}.pos - 1 = length({h}) "
                             f"AND NOT exists({folded}.rings, "
                             f"{r} -> NOT {no_bad_coords(r)}))")},
                    lambda ok2: (
                        f"named_struct("
                        f"'srid', CASE WHEN {ok2} THEN {srid} END, "
                        f"'rings', CASE WHEN {ok2} THEN {folded}.rings END)"
                    ),
                ),
            )

        return let(
            {"n": f"TRY_CAST(conv({hex_slice_dyn(h, le, bp, 4)}, 16, 10) AS INT)"},
            with_n,
        )

    return let(
        {"h": h0, "le": le0, "bt": bt0, "srid": srid0, "bp": bp0, "ok0": ok0},
        with_header,
    )


def _sub_geo_len_sql(h: str, pos: str) -> str:
    """Hex length of the complete nested WKB blob starting at 1-based `pos`
    (NULL when the header is unreadable / kind unsupported). Nested blobs
    never carry an EWKB SRID flag (SRID lives on the container)."""

    def with_bo(le, bo_ok):
        def with_type(t):
            # linestring: 1+4+4 bytes + 16n;  point: 1+4+16;  polygon: a fold
            n = (f"CAST(conv({hex_slice_dyn(h, le, f'({pos}) + 10', 4)}, "
                 f"16, 10) AS BIGINT)")

            def ring_fold(nr: str) -> str:
                acc = fresh("acc")
                i = fresh("i")
                step = let(
                    {"m": (f"CAST(conv("
                           f"{hex_slice_dyn(h, le, f'({pos}) + {acc}.ln', 4)}, "
                           f"16, 10) AS BIGINT)")},
                    lambda m: (
                        f"named_struct("
                        f"'ln', CASE WHEN {m} IS NOT NULL "
                        f"THEN {acc}.ln + 8 + 32 * {m} ELSE {acc}.ln END, "
                        f"'bad', ({acc}.bad OR {m} IS NULL))"
                    ),
                )
                # ≥ 8 hex chars per ring; oversized counts reject pre-sequence
                idx = (f"CASE WHEN {nr} > 0 AND {nr} * 8 <= length({h}) "
                       f"THEN sequence(1, TRY_CAST({nr} AS INT)) "
                       f"ELSE CAST(array() AS ARRAY<INT>) END")
                init = "named_struct('ln', CAST(18 AS BIGINT), 'bad', false)"
                return let(
                    {"f": f"aggregate({idx}, {init}, ({acc}, {i}) -> {step})"},
                    lambda f: f"CASE WHEN NOT {f}.bad THEN {f}.ln END",
                )

            return let(
                {"n": n},
                lambda nv: (
                    f"CASE WHEN {t} = 1 THEN CAST(42 AS BIGINT) "
                    f"WHEN {t} = 2 THEN CASE WHEN {nv} IS NOT NULL "
                    f"THEN 18 + 32 * {nv} END "
                    f"WHEN {t} = 3 THEN CASE WHEN {nv} IS NOT NULL "
                    f"THEN {ring_fold(nv)} END END"
                ),
            )

        return (
            f"CASE WHEN {bo_ok} THEN "
            + let(
                {"t": (f"CAST(conv({hex_slice_dyn(h, le, f'({pos}) + 2', 4)}, "
                       f"16, 10) AS BIGINT)")},
                with_type,
            )
            + " END"
        )

    return let(
        {"le": f"(substr({h}, {pos}, 2) = '01')",
         "bo_ok": f"(substr({h}, {pos}, 2) IN ('00', '01'))"},
        with_bo,
    )


def _wkb_parts_sql(col: str, container_type: int | str) -> str:
    """struct(srid, parts array<string>): the nested blobs of a MULTI* or
    collection geometry as hex strings (NULL when malformed or when the
    header's kind is not `container_type`: 4 multipoint, 5
    multilinestring, 6 multipolygon, 7 geometrycollection, or SQL text
    evaluating to one of them)."""
    h0, le0, bt0, srid0, bp0, ok0 = geo_header(col)

    def with_header(h, le, bt, srid, bp, ok):
        acc = fresh("acc")
        i = fresh("i")

        def step_body() -> str:
            return let(
                {"ln": _sub_geo_len_sql(h, f"{acc}.pos")},
                lambda ln: let(
                    {"fits": (f"({ln} IS NOT NULL "
                              f"AND {acc}.pos + {ln} - 1 <= length({h}))")},
                    lambda fits: (
                        f"named_struct("
                        f"'pos', CASE WHEN {fits} THEN {acc}.pos + {ln} "
                        f"ELSE {acc}.pos END, "
                        f"'parts', CASE WHEN {fits} THEN concat({acc}.parts, "
                        f"array(substr({h}, {acc}.pos, {ln}))) "
                        f"ELSE {acc}.parts END, "
                        f"'bad', ({acc}.bad OR NOT {fits}))"
                    ),
                ),
            )

        def with_n(n):
            idx = (f"CASE WHEN {n} > 0 THEN sequence(1, {n}) "
                   f"ELSE CAST(array() AS ARRAY<INT>) END")
            init = (f"named_struct('pos', CAST({bp} + 8 AS BIGINT), "
                    f"'parts', CAST(array() AS ARRAY<STRING>), "
                    f"'bad', false)")
            # same sanity as the polygon fold: a nested blob is ≥ 10 hex
            # chars (byte order + type header)
            folded_raw = (
                f"CASE WHEN {ok} AND {bt} = {container_type} "
                f"AND {n} IS NOT NULL "
                f"AND CAST({n} AS BIGINT) * 10 <= length({h}) THEN "
                f"aggregate({idx}, {init}, ({acc}, {i}) -> {step_body()}) END"
            )
            return let(
                {"f": folded_raw},
                lambda f: let(
                    {"ok2": (f"({f} IS NOT NULL AND NOT {f}.bad "
                             f"AND {f}.pos - 1 = length({h}))")},
                    lambda ok2: (
                        f"named_struct("
                        f"'srid', CASE WHEN {ok2} THEN {srid} END, "
                        f"'parts', CASE WHEN {ok2} THEN {f}.parts END)"
                    ),
                ),
            )

        return let(
            {"n": f"TRY_CAST(conv({hex_slice_dyn(h, le, bp, 4)}, 16, 10) AS INT)"},
            with_n,
        )

    return let(
        {"h": h0, "le": le0, "bt": bt0, "srid": srid0, "bp": bp0, "ok0": ok0},
        with_header,
    )


def _multi_sql(col: str, kind: int, decode, key: str, fields: tuple[str, ...],
               out: str, pick=None) -> str:
    """struct(srid, <out>) of a MULTI* geometry: each nested blob decoded by
    `decode` (bound as `key`), the whole geometry NULL when any of a member's
    `fields` is NULL; `pick(m)` projects one decoded member (default: its
    first field)."""
    p, x = fresh("p"), fresh("x")
    pick = pick or (lambda m: f"{m}.{fields[0]}")
    missing = " OR ".join(f"{x}.{f} IS NULL" for f in fields)
    return let(
        {"ps": _wkb_parts_sql(col, kind)},
        lambda ps: let(
            {key: f"transform({ps}.parts, {p} -> {decode(p)})"},
            lambda d: let(
                {"bad": (f"({ps}.parts IS NULL OR "
                         f"exists({d}, {x} -> {missing}))")},
                lambda bad: (
                    f"named_struct("
                    f"'srid', CASE WHEN NOT {bad} THEN {ps}.srid END, "
                    f"'{out}', CASE WHEN NOT {bad} THEN "
                    f"transform({d}, {x} -> {pick(x)}) END)"
                ),
            ),
        ),
    )


def wkb_multipoint_sql(col: str) -> str:
    """Builder of `wkb_multipoint`: struct(srid, points)."""
    return _multi_sql(col, 4, wkb_point_sql, "pts", ("x", "y"), "points",
                      lambda m: f"named_struct('x', {m}.x, 'y', {m}.y)")


def wkb_multilinestring_sql(col: str) -> str:
    """Builder of `wkb_multilinestring`: struct(srid, lines)."""
    return _multi_sql(col, 5, wkb_linestring_sql, "ls", ("points",), "lines")


def wkb_multipolygon_sql(col: str) -> str:
    """Builder of `wkb_multipolygon`: struct(srid, polys)."""
    return _multi_sql(col, 6, wkb_polygon_sql, "pg", ("rings",), "polys")


# -- WKT rendering (geo.go's output surface) ---------------------------------

_WKT_TAGS = ("POINT", "LINESTRING", "POLYGON", "MULTIPOINT", "MULTILINESTRING",
             "MULTIPOLYGON", "GEOMETRYCOLLECTION")


def _tag_sql(kind: str) -> str:
    whens = " ".join(f"WHEN {k} THEN '{t}'" for k, t in enumerate(_WKT_TAGS, 1))
    return f"CASE {kind} {whens} END"


def _wkt_coords(arr: str, depth: int) -> str:
    """'x y, x y' for an array of points; each nesting level above that
    wraps its members in parentheses ('(x y, …), (…)'). NULL for a NULL
    array."""
    v = fresh("w")
    item = (f"concat(CAST({v}.x AS STRING), ' ', CAST({v}.y AS STRING))"
            if depth == 0 else f"concat('(', {_wkt_coords(v, depth - 1)}, ')')")
    return f"array_join(transform({arr}, {v} -> {item}), ', ')"


def _wkt_body_sql(col: str, kind: str) -> str:
    """The text inside a simple geometry's WKT parentheses — 'x y' (point),
    'x y, …' (linestring), '(x y, …), …' (polygon) — for `col` decoded as
    `kind` (SQL text); NULL when that decode is NULL or `kind` is not 1-3."""
    pt = let({"p": wkb_point_sql(col)},
             lambda p: f"concat(CAST({p}.x AS STRING), ' ', CAST({p}.y AS STRING))")
    ls = _wkt_coords(f"({wkb_linestring_sql(col)}).points", 0)
    pg = _wkt_coords(f"({wkb_polygon_sql(col)}).rings", 1)
    return f"CASE {kind} WHEN 1 THEN {pt} WHEN 2 THEN {ls} WHEN 3 THEN {pg} END"


def _wkt_wrap(tag: str, body: str) -> str:
    """'TAG(body)', or 'TAG EMPTY' for an empty body (no points, rings or
    members); NULL for a NULL body."""
    return (f"CASE WHEN {body} = '' THEN concat({tag}, ' EMPTY') "
            f"ELSE concat({tag}, '(', {body}, ')') END")


def _wkt_sql(col: str, kind: str) -> str:
    """WKT, without an SRID prefix, of `col` whose header carries `kind`
    (SQL text evaluating to 1-7). A simple geometry renders as the one
    member of itself; a MULTI* or GEOMETRYCOLLECTION renders its nested
    blobs, each of which must be the kind its container promises
    (kind - 3; any simple kind in a collection, where members keep their
    tags). A geometry with no points, rings or members renders as
    'TAG EMPTY' (an empty member of a MULTI* as 'EMPTY'). NULL when any
    member is."""
    p, t = fresh("p"), fresh("t")

    def member(mk: str) -> str:
        return let(
            {"b": _wkt_body_sql(p, mk)},
            lambda b: (f"CASE WHEN {kind} <= 3 OR {kind} = 7 "
                       f"THEN {_wkt_wrap(_tag_sql(mk), b)} "
                       f"WHEN {mk} != {kind} - 3 THEN NULL "
                       f"WHEN {kind} = 4 THEN {b} "
                       f"WHEN {b} = '' THEN 'EMPTY' ELSE concat('(', {b}, ')') END"),
        )

    def render(txt: str) -> str:
        joined = f"array_join({txt}, ', ')"
        return (f"CASE WHEN {txt} IS NOT NULL "
                f"AND NOT exists({txt}, {t} -> {t} IS NULL) THEN "
                f"CASE WHEN {kind} <= 3 THEN get({txt}, 0) "
                f"ELSE {_wkt_wrap(_tag_sql(kind), joined)} END END")

    items = (f"CASE WHEN {kind} <= 3 THEN array({col}) "
             f"ELSE ({_wkb_parts_sql(col, kind)}).parts END")
    return let(
        {"txt": (f"transform({items}, {p} -> "
                 f"{let({'mk': geo_header(p)[2]}, member)})")},
        render,
    )


def wkb_point_wkt_sql(col: str) -> str:
    """Builder of `wkb_point_wkt`."""
    return let(
        {"p": wkb_point_sql(col)},
        lambda p: (f"CASE WHEN {p}.x IS NOT NULL THEN concat("
                   f"CASE WHEN {p}.srid > 0 THEN concat('SRID=', "
                   f"CAST({p}.srid AS STRING), ';') ELSE '' END, "
                   f"'POINT(', CAST({p}.x AS STRING), ' ', "
                   f"CAST({p}.y AS STRING), ')') END"),
    )


def wkb_geometrycollection_wkt_sql(col: str) -> str:
    """Builder of `wkb_geometrycollection_wkt`."""
    return _wkt_sql(col, "7")


def wkb_geometry_wkt_sql(col: str) -> str:
    """Builder of `wkb_geometry_wkt`."""
    _h, _le, bt0, srid0, _bp, _ok = geo_header(col)
    return let(
        {"bt": bt0, "sr": srid0},
        lambda bt, sr: (
            f"concat(CASE WHEN {sr} > 0 THEN concat('SRID=', "
            f"CAST({sr} AS STRING), ';') ELSE '' END, "
            f"CASE WHEN {bt} BETWEEN 1 AND 7 THEN {_wkt_sql(col, bt)} END)"
        ),
    )


# -- public Column surface: one F.expr parse per call -------------------------


def wkb_point(col: str) -> Column:
    """Hex-WKB/EWKB POINT → struct(x double, y double, srid int).

    `col` is a column name or SQL expression text, as for every geometry
    function here. Supports both byte orders and the EWKB SRID flag
    (0x20000000). Anything that is not a well-formed point (wrong geometry
    type, wrong length, non-hex) yields NULL x/y — the reference's
    GeoValidate drops invalid shapes the same way
    (flow/shared/datatypes/geo.go:11-35) — and an Inf/NaN coordinate
    reads as a NULL x or y."""
    return F.expr(wkb_point_sql(col))


def wkb_point_wkt(col: str) -> Column:
    """WKT rendering with the reference's SRID prefix convention
    ('SRID=n;POINT(x y)' when SRID != 0 — geo.go:29-34). String formatting of
    doubles is engine-specific, so this is the API surface, not the oracle
    projection (oracles compare the typed x/y/srid struct instead)."""
    return F.expr(wkb_point_wkt_sql(col))


def wkb_linestring(col: str) -> Column:
    """Hex-WKB/EWKB LINESTRING → struct(srid int, points array<struct<x,y>>).
    points is NULL for anything malformed (wrong type, truncated/overlong
    payload, NaN/Inf coordinate)."""
    return F.expr(wkb_linestring_sql(col))


def wkb_polygon(col: str) -> Column:
    """Hex-WKB/EWKB POLYGON → struct(srid int, rings array<array<struct<x,y>>>)."""
    return F.expr(wkb_polygon_sql(col))


def wkb_multipoint(col: str) -> Column:
    """MULTIPOINT → struct(srid int, points array<struct<x,y>>)."""
    return F.expr(wkb_multipoint_sql(col))


def wkb_multilinestring(col: str) -> Column:
    """MULTILINESTRING → struct(srid int, lines array<array<struct<x,y>>>)."""
    return F.expr(wkb_multilinestring_sql(col))


def wkb_multipolygon(col: str) -> Column:
    """MULTIPOLYGON → struct(srid int, polys array<array<array<struct<x,y>>>>)."""
    return F.expr(wkb_multipolygon_sql(col))


def wkb_geometrycollection_wkt(col: str) -> Column:
    """GEOMETRYCOLLECTION → WKT ('GEOMETRYCOLLECTION(POINT(…), …)'; empty →
    'GEOMETRYCOLLECTION EMPTY'). Members are the simple kinds — a
    collection holding MULTI* or nested collections returns NULL
    (documented scope: the member-length fold handles kinds 1-3)."""
    return F.expr(wkb_geometrycollection_wkt_sql(col))


def wkb_geometry_wkt(col: str) -> Column:
    """Any supported hex-WKB geometry → WKT with the reference's SRID
    prefix convention ('SRID=n;…' when SRID != 0 — geo.go:29-34). All
    seven kinds: point/linestring/polygon, the three MULTI* kinds, and
    GEOMETRYCOLLECTION of simple members (nested collections → NULL). An
    empty geometry renders as '<TAG> EMPTY'. Double→string formatting is engine-specific, so (like wkb_point_wkt)
    this is the API surface — oracles compare typed/integer-scaled
    coordinates instead."""
    return F.expr(wkb_geometry_wkt_sql(col))


# ---------------------------------------------------------------------------
# money / bit strings
# ---------------------------------------------------------------------------


def parse_money_cents(col: Column) -> Column:
    """Postgres MONEY text ('$1,234.56', '-$12.30') → exact integer cents.

    Mirrors the reference's money handling (qvalue_convert.go strips the
    currency formatting and parses as numeric): drop '$' and grouping
    commas, parse, scale to cents. Cents stay exact through the double
    parse for any realistic money value (< 2^53/100)."""
    cleaned = F.regexp_replace(col, r"[$,]", "")
    return F.round(cleaned.cast("double") * 100).cast("long")


def valid_bit(col: Column, max_len: int | None = None) -> Column:
    """BIT/VARBIT text: a string of 0/1 digits, NULL when malformed
    (reference maps bit kinds to string; validation replaces the wire check)."""
    ok = col.rlike("^[01]+$")
    if max_len is not None:
        ok = ok & (F.length(col) <= max_len)
    return F.when(ok, col)
