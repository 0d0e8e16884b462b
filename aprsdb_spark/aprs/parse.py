"""APRS packet parsing, expression-first.

Everything regular (TNC2 header, uncompressed positions, weather,
telemetry, messages, status) is pure Spark SQL expressions, written
once as SQL text — scales linearly, no Python in the hot path. Only the two byte-twiddling
formats (base-91 compressed positions, Mic-E) drop to an Arrow-batched
pandas UDF (decoders.py).

It does NOT run in whole-stage codegen: the two higher-order lambdas,
the q-construct `filter(path, x -> x RLIKE '^qA')` and the telemetry
`transform(slice(parts, 1, 5), x -> try_cast(x AS DOUBLE))`, are
CodegenFallback, so both parse Projects plan without a `*(n)` stage
and every task generates its projection afresh. A lambda-free form
(`regexp_extract` for the q-construct, one array `try_cast` for the
telemetry) fuses into one stage with identical rows, but showed no
batch parse gain, so it is not used (ROADMAP item 4).

Grammar sources (public): APRS Protocol Reference v1.0.1 (TAPR 2000) —
TNC2 framing §4, DTIs §5 p.17, positions §6/§9, weather §12, telemetry
§13, messages §14; APRS-IS q-constructs (aprs-is.net). The parser never
throws: malformed frames land with parse_error set (audit path), like
any collector's bad-packet table.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# TNC2: SRC>DST,PATH1,PATH2*,qAR,GATE:info     (header chars before ':')
_HEADER_RE = r"^([A-Za-z0-9\-]{1,9})>([A-Za-z0-9\-]{1,9})((?:,[^,:]+)*):(.+)$"

# Uncompressed position body: 4903.50N/07201.75W-  (sym table between
# lat/lon, symbol after lon). APRS101 §6.
_POS_RE = r"(\d{2})(\d{2}\.\d{2})([NS])(.)(\d{3})(\d{2}\.\d{2})([EW])(.)"
# anchored variant with the remainder captured (group 9) — Spark has no
# replace-first, so 'everything after the position block' is a capture
_POS_ANCHORED_RE = "^" + _POS_RE + "(.*)$"


def _sq(pat: str) -> str:
    """Python regex/string -> Spark SQL single-quoted literal. With the
    default escapedStringLiterals=false the SQL lexer consumes one level
    of backslash escaping, so every backslash doubles; single quotes
    escape as \\'."""
    return "'" + pat.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _tnc2_struct_sql(raw: str) -> str:
    """The TNC2 header grammar over the SQL expression `raw`: one
    named_struct carrying src/dst/path/q_construct/gate/dti/info. Pure
    regexp/split/filter — no UDF (SURVEY.md h_str_parse_tnc2). Built as
    a pure Python string so a query build pays ONE parse instead of ~80
    py4j Column round-trips (measured ~1 ms each on the r16 host)."""
    hdr = _sq(_HEADER_RE)
    src = f"regexp_extract({raw}, {hdr}, 1)"
    dst = f"regexp_extract({raw}, {hdr}, 2)"
    path_str = f"regexp_extract({raw}, {hdr}, 3)"
    info = f"regexp_extract({raw}, {hdr}, 4)"
    path = (
        f"CASE WHEN {path_str} = '' THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE slice(split({path_str}, ','), 2, 1000) END"
    )
    q = f"try_element_at(filter({path}, x -> x RLIKE '^qA'), 1)"
    qpos = f"array_position({path}, {q})"
    gate = (
        f"CASE WHEN {qpos} > 0 "
        f"THEN try_element_at({path}, CAST({qpos} + 1 AS INT)) END"
    )
    dti = f"CASE WHEN {info} <> '' THEN substring({info}, 1, 1) END"
    return (
        f"named_struct('src', {src}, 'dst', {dst}, 'path', {path}, "
        f"'q_construct', {q}, 'gate', {gate}, 'dti', {dti}, 'info', {info})"
    )


def parse_tnc2(raw_col: str) -> Column:
    """Column `raw_col` (raw lines) -> struct(src, dst, path array,
    q_construct, gate, dti, info). The q-construct `filter` lambda is
    CodegenFallback, so the Project holding it stays out of whole-stage
    codegen."""
    return F.expr(_tnc2_struct_sql(f"`{raw_col}`"))


def _pos_fields_sql(body: str) -> dict[str, str]:
    """Decode an uncompressed position body (already stripped of DTI and
    optional timestamp): ddmm.mmN<sym_table>dddmm.mmE<symbol>comment.
    Trailing data: course/speed "ccc/sss", altitude "/A=nnnnnn" (§6)."""
    pat = _sq(_POS_ANCHORED_RE)

    def m(g: int) -> str:
        return f"regexp_extract({body}, {pat}, {g})"

    matched = f"({m(3)} <> '')"
    sign_lat = f"CASE WHEN {m(3)} = 'S' THEN -1.0D ELSE 1.0D END"
    sign_lon = f"CASE WHEN {m(7)} = 'W' THEN -1.0D ELSE 1.0D END"
    lat = (
        f"((try_cast({m(1)} AS DOUBLE) + try_cast({m(2)} AS DOUBLE) / 60.0D)"
        f" * {sign_lat})"
    )
    lon = (
        f"((try_cast({m(5)} AS DOUBLE) + try_cast({m(6)} AS DOUBLE) / 60.0D)"
        f" * {sign_lon})"
    )
    after = m(9)
    cs_pat = _sq(r"^(\d{3})/(\d{3})")
    alt_pat = _sq(r"/A=(\d{6})")
    cse = f"regexp_extract({after}, {cs_pat}, 1)"
    spd = f"regexp_extract({after}, {cs_pat}, 2)"
    alt_ft = f"regexp_extract({body}, {alt_pat}, 1)"
    return {
        "latitude": f"CASE WHEN {matched} THEN {lat} END",
        "longitude": f"CASE WHEN {matched} THEN {lon} END",
        "symbol_table": f"CASE WHEN {matched} THEN {m(4)} END",
        "symbol": f"CASE WHEN {matched} THEN {m(8)} END",
        "course_deg": (
            f"CASE WHEN {cse} <> '' THEN try_cast({cse} AS DOUBLE) END"
        ),
        "speed_kmh": (
            f"CASE WHEN {spd} <> '' THEN try_cast({spd} AS DOUBLE) * 1.852D END"
        ),
        "altitude_m": (
            f"CASE WHEN {alt_ft} <> '' "
            f"THEN try_cast({alt_ft} AS DOUBLE) * 0.3048D END"
        ),
        "comment": (
            f"CASE WHEN {matched} "
            f"THEN regexp_replace({after}, {cs_pat}, '') END"
        ),
        "matched": matched,
    }


def _wx_struct_sql(info: str) -> str:
    """Positionless weather `_` (§12): letter-prefixed fixed-width fields
    c220s004g005t077r000p000P000h50b09900."""

    def g(pat: str) -> str:
        return f"regexp_extract({info}, {_sq(pat)}, 1)"

    def num(pat: str, scale: str | None = None) -> str:
        v = f"try_cast({g(pat)} AS DOUBLE)"
        if scale is not None:
            v = f"{v} * {scale}"
        return f"CASE WHEN {g(pat)} <> '' THEN {v} END"

    g_c = g(r"c(\d{3})")
    g_h = g(r"h(\d{2})")
    wind_dir = f"CASE WHEN {g_c} <> '' THEN try_cast({g_c} AS INT) END"
    humidity = f"CASE WHEN {g_h} <> '' THEN try_cast({g_h} AS INT) END"
    wind_speed = num(r"s(\d{3})", "1.609344D")  # mph->km/h
    gust = num(r"g(\d{3})", "1.609344D")
    temp_f = num(r"t(-?\d{2,3})")
    rain_1h = num(r"r(\d{3})", "0.01D")  # hundredths inch
    rain_24h = num(r"p(\d{3})", "0.01D")
    rain_mid = num(r"P(\d{3})", "0.01D")
    pressure = num(r"b(\d{5})", "0.1D")  # tenths of mb
    return (
        f"named_struct('wind_dir', {wind_dir}, "
        f"'wind_speed', {wind_speed}, "
        f"'gust', {gust}, "
        f"'temp_f', {temp_f}, "
        f"'rain_1h', {rain_1h}, "
        f"'rain_24h', {rain_24h}, "
        f"'rain_since_midnight', {rain_mid}, "
        f"'humidity', {humidity}, "
        f"'pressure_mb', {pressure})"
    )


def _telemetry_struct_sql(info: str) -> str:
    """T#sss,v1,v2,v3,v4,v5,bbbbbbbb (§13)."""
    seq_pat = _sq(r"^T#(\d{1,3})")
    rest_pat = _sq(r"^T#\d{1,3},(.*)$")
    seq = f"regexp_extract({info}, {seq_pat}, 1)"
    rest = f"regexp_extract({info}, {rest_pat}, 1)"
    parts = f"split({rest}, ',')"
    vals = f"transform(slice({parts}, 1, 5), x -> try_cast(x AS DOUBLE))"
    bits = f"try_element_at({parts}, 6)"
    return (
        f"CASE WHEN {seq} <> '' THEN named_struct("
        f"'seq', try_cast({seq} AS INT), 'vals', {vals}, 'bits', {bits}) END"
    )


def _msg_struct_sql(info: str) -> str:
    """:ADDRESSEE:text{msgNo — addressee is 9 chars space-padded (§14);
    ack/rej replies carry ackNN / rejNN as the text."""
    addressee = f"trim(substring({info}, 2, 9))"
    body = (
        f"CASE WHEN substring({info}, 11, 1) = ':' "
        f"THEN substring({info}, 12, 67) END"
    )
    no_pat = _sq(r"\{([A-Za-z0-9]{1,5})$")
    strip_pat = _sq(r"\{[A-Za-z0-9]{1,5}$")
    msg_no = f"regexp_extract({body}, {no_pat}, 1)"
    text = f"regexp_replace({body}, {strip_pat}, '')"
    is_ack = f"({body} RLIKE '^ack[A-Za-z0-9]{{1,5}}$')"
    is_rej = f"({body} RLIKE '^rej[A-Za-z0-9]{{1,5}}$')"
    return (
        f"CASE WHEN {body} IS NOT NULL THEN named_struct("
        f"'addressee', {addressee}, 'text', {text}, "
        f"'msg_no', CASE WHEN {msg_no} <> '' THEN {msg_no} END, "
        f"'is_ack', {is_ack}, 'is_rej', {is_rej}) END"
    )


@lru_cache(maxsize=8)
def _packet_select_exprs(raw_col: str, recv_ts_col: str | None) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """The two selectExpr stages of parse_packets, precomputed as SQL
    text (cached per column-name pair — in practice one or two entries).
    Stage 1 materializes the _h header struct; stage 2 is the wide-frame
    projection. ~2 parsed expressions instead of the ~400 py4j Column
    round-trips a Column-op build costs (guide §1.2 'per-task work'
    applied to the driver; measured ~0.9 s per build on the r16 host)."""
    raw = f"`{raw_col}`"
    stage1 = ("*", f"{_tnc2_struct_sql(raw)} AS _h")

    info = "_h.info"
    dti = "_h.dti"
    # strip DTI (+ 7-char timestamp for / and @ forms) for position
    # decode; objects (§11): ;NAME(9)*|_ ts(7) pos...; items:
    # )NAME[3-9]!|_ pos...
    item_pat = _sq(r"^\)([^!_]{3,9})[!_](.*)$")
    pos_body = (
        f"CASE WHEN {dti} IN ('!', '=') THEN substring({info}, 2, 1000) "
        f"WHEN {dti} IN ('/', '@') THEN substring({info}, 9, 1000) "
        f"WHEN {dti} = ';' THEN substring({info}, 19, 1000) "
        f"WHEN {dti} = ')' THEN regexp_extract({info}, {item_pat}, 2) END"
    )
    obj_name_pat = _sq(r"^\)([^!_]{3,9})[!_]")
    dead_item_pat = _sq(r"^\)[^!_]{3,9}_")
    obj_name = (
        f"CASE WHEN {dti} = ';' THEN trim(substring({info}, 2, 9)) "
        f"WHEN {dti} = ')' "
        f"THEN regexp_extract({info}, {obj_name_pat}, 1) END"
    )
    obj_alive = (
        f"CASE WHEN {dti} = ';' THEN substring({info}, 11, 1) = '*' "
        f"WHEN {dti} = ')' "
        f"THEN NOT ({info} RLIKE {dead_item_pat}) END"
    )
    p = _pos_fields_sql(f"coalesce({pos_body}, '')")

    pos_dti = f"{dti} IN ('!', '=', '/', '@', ';', ')')"
    is_pos = f"(({pos_dti}) AND {p['matched']})"
    is_wx = f"({dti} = '_')"
    is_tel = f"({dti} = 'T')"
    is_msg = f"({dti} = ':')"
    is_status = f"({dti} = '>')"
    fmt = (
        f"CASE WHEN {is_pos} AND {dti} IN (';') THEN 'object' "
        f"WHEN {is_pos} AND {dti} IN (')') THEN 'item' "
        f"WHEN {is_pos} THEN 'uncompressed' "
        # pos DTI, digit-less body
        f"WHEN {dti} IN ('!', '=', '/', '@') THEN 'compressed' "
        f"WHEN {is_wx} THEN 'wx' "
        f"WHEN {is_tel} THEN 'telemetry' "
        f"WHEN {is_msg} THEN 'message' "
        f"WHEN {is_status} THEN 'status' "
        f"WHEN {dti} = ';' THEN 'object' "
        f"WHEN {dti} = ')' THEN 'item' "
        f"WHEN {dti} IN ('`', '\\'') THEN 'mic-e' "
        f"ELSE 'other' END"
    )
    parse_error = (
        f"CASE WHEN _h.src = '' THEN 'bad-header' "
        f"WHEN {info} IS NULL OR {info} = '' THEN 'empty-info' END"
    )
    recv_ts = (
        f"`{recv_ts_col}`" if recv_ts_col else "CAST(NULL AS TIMESTAMP)"
    )

    def pos_col(expr: str, name: str) -> str:
        return f"CASE WHEN {is_pos} THEN {expr} END AS {name}"

    stage2 = (
        f"{raw} AS raw",
        f"{recv_ts} AS recv_ts",
        "CASE WHEN _h.src <> '' THEN _h.src END AS src",
        "CASE WHEN _h.dst <> '' THEN _h.dst END AS dst",
        "_h.path AS path",
        "_h.q_construct AS q_construct",
        "_h.gate AS gate",
        f"{dti} AS dti",
        f"CASE WHEN ({parse_error}) IS NULL THEN {fmt} END AS fmt",
        pos_col(p["latitude"], "latitude"),
        pos_col(p["longitude"], "longitude"),
        pos_col(p["symbol_table"], "symbol_table"),
        pos_col(p["symbol"], "symbol"),
        pos_col(p["altitude_m"], "altitude_m"),
        pos_col(p["course_deg"], "course_deg"),
        pos_col(p["speed_kmh"], "speed_kmh"),
        f"CASE WHEN {is_pos} THEN {p['comment']} "
        f"WHEN {is_status} THEN substring({info}, 2, 1000) END AS comment",
        f"CASE WHEN {is_wx} THEN {_wx_struct_sql(info)} END AS wx",
        f"CASE WHEN {is_tel} THEN {_telemetry_struct_sql(info)} END"
        " AS telemetry",
        f"CASE WHEN {is_msg} THEN {_msg_struct_sql(info)} END AS msg",
        f"{obj_name} AS obj_name",
        f"{obj_alive} AS obj_alive",
        f"{parse_error} AS parse_error",
    )
    return stage1, stage2


def parse_packets(df: DataFrame, raw_col: str = "raw", recv_ts_col: str | None = None) -> DataFrame:
    """Text lines -> the canonical wide packet frame (schema.PACKET_SCHEMA
    shape). Dispatches on the Data Type Identifier (first info byte,
    APRS101 §5 p.17): ! = / @ positions, _ weather, T telemetry,
    : messages, > status. Compressed/Mic-E enrichment is a separate
    opt-in stage (decoders.decode_compressed) because it runs Python.

    The wide frame is built from precomputed SQL text (two selectExpr
    stages, cached at module level) rather than per-call Column ops —
    the expression tree does not depend on the input, only on the two
    column names, and the Column-op form cost ~0.9 s of driver time per
    query build (see _packet_select_exprs)."""
    stage1, stage2 = _packet_select_exprs(raw_col, recv_ts_col)
    return df.selectExpr(*stage1).selectExpr(*stage2)


def station_view(packets: DataFrame) -> DataFrame:
    """The collector's classic 'stations' dimension: last-heard + counts
    per src — an aggregate view of the wide frame, not a second parse."""
    return packets.where(F.col("src").isNotNull()).groupBy("src").agg(
        F.max("recv_ts").alias("last_heard"),
        F.count("*").alias("n_packets"),
        F.max_by(F.col("latitude"), F.col("recv_ts")).alias("last_lat"),
        F.max_by(F.col("longitude"), F.col("recv_ts")).alias("last_lon"),
        F.max_by(F.col("symbol"), F.col("recv_ts")).alias("symbol"),
    )
