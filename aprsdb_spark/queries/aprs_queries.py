"""APRS qids: TNC2 + position parsing (oracle-checked over literal
frames — both engines run the same RE2/Java-compatible regexes and the
same arithmetic, so results hash-match exactly) and rows-only pipeline
checks over the committed packet fixtures (tests/fixtures/aprs/).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..aprs.decoders import enrich_positions
from ..aprs.parse import parse_packets, parse_tnc2, station_view
from ..registry import query

FIXTURE_DIR = Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "aprs"

# Hand-picked frames exercising the header grammar (digis, used-marker
# '*', q-constructs, TCPIP path, SSIDs) and the position formats.
PACKETS = [
    "N0CALL-9>APDR16,WIDE1-1,WIDE2-2,qAR,IGATE7:!4903.50N/07201.75W-Test packet 1",
    "KB2ICI-14>APRS,TCPIP*,qAC,FOURTH:=4215.25N/07342.50W>088/036/A=001234 going north",
    "W1AW>APRS,WIDE1-1*,qAO,RXGATE:!0000.00N\\00000.00E_weather station",
    "DL1ABC-7>APWW11,qAR,HAMBURG:@092345z5230.70N/01322.50E-home qth",
    "VK2XYZ>APRS,WIDE2-2,qAS,SYDNEY:/234517h3351.50S/15112.60Ev120/045 mobile",
    "M0XYZ-5>APRS:>status only no path",
    "F4ABC>APRS,qAC,PARIS:T#005,123,45.6,789,0,1,10101010",
    "G7DEF>APRS,qAR,LONDON::N0CALL-9 :message text here{42",
    "EA1GHI>APRS,qAO,MADRID:!9912.99X/12345.67Q-malformed position",
    "JA1JKL>APRS,WIDE1-1,qAR,TOKYO:_10090556c220s004g008t077r001p045P068h50b09921",
]

_HEADER_SQL_RE = r"^([A-Za-z0-9\-]{1,9})>([A-Za-z0-9\-]{1,9})((?:,[^,:]+)*):(.+)$"
_POS_SQL_RE = r"^(\d{2})(\d{2}\.\d{2})([NS])(.)(\d{3})(\d{2}\.\d{2})([EW])(.)(.*)$"


def _values_sql() -> str:
    rows = ",".join("('" + p.replace("'", "''") + "')" for p in PACKETS)
    return f"(VALUES {rows}) t(raw)"


def _packets_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([(p,) for p in PACKETS], "raw string")


def _fixture_lines(name: str) -> list[str]:
    """Split a replay fixture the way spark.read.text does (Hadoop line
    reader: \\n / \\r\\n / lone \\r; no row for a trailing newline).
    NOT str.splitlines(), which also splits on \\x1c-\\x1e — Mic-E
    payload bytes that are DATA here, not separators."""
    import re

    lines = re.split(r"\r\n|\r|\n", (FIXTURE_DIR / name).read_text())
    if lines and lines[-1] == "":
        lines.pop()
    return lines


def _fixture_values_sql(name: str) -> str:
    """The VALUES-relation detour for fixture-backed qids: embed the
    committed replay file's (recv_ms, raw) rows as a literal relation so
    the oracle engine parses the exact same lines the Spark side reads
    from disk — the technique h_str_parse_tnc2 uses for literal frames,
    extended to the fixture files. Committed fixtures are deterministic,
    so the SQL is stable across runs."""
    rows = []
    for line in _fixture_lines(name):
        ms, _, raw = line.partition("\t")
        rows.append(f"({int(ms)}, '" + raw.replace("'", "''") + "')")
    return "(VALUES " + ", ".join(rows) + ") lines(recv_ms, raw)"


# DuckDB twin of parse_packets' fmt dispatch (APRS101 §5 DTI table),
# expects `dti` and `matched` columns in scope.
_FMT_DISPATCH_SQL = r"""
      CASE WHEN dti IN ('!', '=', '/', '@', ';', ')') AND matched THEN
             (CASE WHEN dti = ';' THEN 'object'
                   WHEN dti = ')' THEN 'item'
                   ELSE 'uncompressed' END)
           WHEN dti IN ('!', '=', '/', '@') THEN 'compressed'
           WHEN dti = '_' THEN 'wx'
           WHEN dti = 'T' THEN 'telemetry'
           WHEN dti = ':' THEN 'message'
           WHEN dti = '>' THEN 'status'
           WHEN dti = ';' THEN 'object'
           WHEN dti = ')' THEN 'item'
           WHEN dti IN ('`', '''') THEN 'mic-e'
           ELSE 'other' END
"""


# DuckDB twins of the parse_tnc2 header split + epoch_ms timestamp used
# by every fixture-backed oracle below.
def _fixture_base_sql(name: str) -> str:
    return f"""
    WITH x AS (
      SELECT epoch_ms(recv_ms) AS recv_ts, raw,
             CASE WHEN regexp_extract(raw, '{_HEADER_SQL_RE}', 1) = '' THEN NULL
                  ELSE regexp_extract(raw, '{_HEADER_SQL_RE}', 1) END AS src,
             regexp_extract(raw, '{_HEADER_SQL_RE}', 4) AS info
      FROM {_fixture_values_sql(name)})
"""


@query(
    "h_str_parse_tnc2",
    oracle=f"""
    WITH x AS (
      SELECT raw,
             regexp_extract(raw, '{_HEADER_SQL_RE}', 1) AS src,
             regexp_extract(raw, '{_HEADER_SQL_RE}', 2) AS dst,
             regexp_extract(raw, '{_HEADER_SQL_RE}', 3) AS path_str,
             regexp_extract(raw, '{_HEADER_SQL_RE}', 4) AS info
      FROM {_values_sql()}),
    y AS (
      SELECT raw, src, dst, info,
             CASE WHEN path_str = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split(path_str, ',')[2:] END AS path
      FROM x)
    SELECT raw,
           CASE WHEN src = '' THEN NULL ELSE src END AS src,
           CASE WHEN dst = '' THEN NULL ELSE dst END AS dst,
           COALESCE(array_to_string(path, ','), '') AS path,
           (list_filter(path, p -> regexp_matches(p, '^qA')))[1] AS q_construct,
           path[list_position(path, (list_filter(path, p -> regexp_matches(p, '^qA')))[1]) + 1]
             AS gate,
           CASE WHEN info <> '' THEN substr(info, 1, 1) END AS dti,
           CASE WHEN info = '' THEN NULL ELSE info END AS info
    FROM y
    """,
)
def h_str_parse_tnc2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TNC2 frame grammar as pure expressions: SRC>DST,PATH,qAX,GATE:info
    → typed columns. The oracle runs the identical regex in DuckDB.
    `path` re-joins the digi list with ',' (its own source delimiter —
    lossless) so every output column is canonicalizer-safe scalar."""
    h = parse_tnc2("raw")
    return _packets_df(spark).select(
        "raw",
        F.when(h.getField("src") != "", h.getField("src")).alias("src"),
        F.when(h.getField("dst") != "", h.getField("dst")).alias("dst"),
        F.concat_ws(",", h.getField("path")).alias("path"),
        h.getField("q_construct").alias("q_construct"),
        h.getField("gate").alias("gate"),
        h.getField("dti").alias("dti"),
        F.when(h.getField("info") != "", h.getField("info")).alias("info"),
    )


@query(
    "h_str_parse_pos",
    oracle=f"""
    WITH x AS (
      SELECT raw, regexp_extract(raw, '{_HEADER_SQL_RE}', 1) AS src,
             regexp_extract(raw, '{_HEADER_SQL_RE}', 4) AS info
      FROM {_values_sql()}),
    b AS (
      SELECT raw, src,
             CASE WHEN substr(info, 1, 1) IN ('!', '=') THEN substr(info, 2)
                  WHEN substr(info, 1, 1) IN ('/', '@') THEN substr(info, 9)
                  ELSE '' END AS body
      FROM x),
    g AS (
      SELECT raw, src, body,
             regexp_extract(body, '{_POS_SQL_RE}', 1) AS latd,
             regexp_extract(body, '{_POS_SQL_RE}', 2) AS latm,
             regexp_extract(body, '{_POS_SQL_RE}', 3) AS ns,
             regexp_extract(body, '{_POS_SQL_RE}', 4) AS sym_t,
             regexp_extract(body, '{_POS_SQL_RE}', 5) AS lond,
             regexp_extract(body, '{_POS_SQL_RE}', 6) AS lonm,
             regexp_extract(body, '{_POS_SQL_RE}', 7) AS ew,
             regexp_extract(body, '{_POS_SQL_RE}', 8) AS sym,
             regexp_extract(body, '{_POS_SQL_RE}', 9) AS after
      FROM b)
    SELECT raw, src,
           CASE WHEN ns <> '' THEN (CAST(latd AS DOUBLE) + CAST(latm AS DOUBLE) / 60.0)
                * (CASE WHEN ns = 'S' THEN -1.0 ELSE 1.0 END) END AS latitude,
           CASE WHEN ns <> '' THEN (CAST(lond AS DOUBLE) + CAST(lonm AS DOUBLE) / 60.0)
                * (CASE WHEN ew = 'W' THEN -1.0 ELSE 1.0 END) END AS longitude,
           CASE WHEN ns <> '' THEN sym_t END AS symbol_table,
           CASE WHEN ns <> '' THEN sym END AS symbol,
           CASE WHEN regexp_extract(after, '^(\\d{{3}})/(\\d{{3}})', 1) <> ''
                THEN CAST(regexp_extract(after, '^(\\d{{3}})/(\\d{{3}})', 1) AS DOUBLE) END
             AS course_deg,
           CASE WHEN regexp_extract(after, '^(\\d{{3}})/(\\d{{3}})', 2) <> ''
                THEN CAST(regexp_extract(after, '^(\\d{{3}})/(\\d{{3}})', 2) AS DOUBLE) * 1.852
             END AS speed_kmh,
           CASE WHEN regexp_extract(body, '/A=(\\d{{6}})', 1) <> ''
                THEN CAST(regexp_extract(body, '/A=(\\d{{6}})', 1) AS DOUBLE) * 0.3048
             END AS altitude_m
    FROM g
    WHERE ns <> ''
    """,
)
def h_str_parse_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncompressed position decode (ddmm.mmN/dddmm.mmE → signed degrees,
    course/speed, altitude) — pure regexp + arithmetic, bit-identical
    across engines so no rounding is needed."""
    parsed = parse_packets(_packets_df(spark))
    return parsed.where(F.col("latitude").isNotNull()).select(
        "raw",
        "src",
        "latitude",
        "longitude",
        "symbol_table",
        "symbol",
        "course_deg",
        "speed_kmh",
        "altitude_m",
    )


def _read_fixture(spark: SparkSession, name: str) -> DataFrame:
    """Replay file -> (recv_ts timestamp, raw line)."""
    lines = spark.read.text(str(FIXTURE_DIR / name))
    parts = F.split(F.col("value"), "\t", 2)
    return lines.select(
        F.try_element_at(parts, F.lit(1)).try_cast("long").alias("recv_ms"),
        F.try_element_at(parts, F.lit(2)).alias("raw"),
    ).select(F.timestamp_millis(F.col("recv_ms")).alias("recv_ts"), "raw")


_PIPELINE_FIXTURES = (
    "pos_uncompressed.txt",
    "wx_telemetry.txt",
    "msgs_acks.txt",
    "malformed.txt",
    "mice_compressed.txt",
)


def _pipeline_oracle() -> str:
    """DuckDB twin of the FULL parse_packets wide frame over the union
    of all five replay fixtures: TNC2 header split, q-construct/gate
    extraction, DTI dispatch (incl. object/item bodies and the
    compressed fallback), uncompressed-position decode with
    course/speed/altitude/comment, and the bad-packet classification —
    every scalar column of the frame, value-checked on 296 lines."""
    rows = []
    for name in _PIPELINE_FIXTURES:
        for line in _fixture_lines(name):
            ms, _, raw = line.partition("\t")
            rows.append(f"({int(ms)}, '" + raw.replace("'", "''") + "')")
    values = "(VALUES " + ", ".join(rows) + ") lines(recv_ms, raw)"
    return rf"""
    WITH h AS (
      SELECT epoch_ms(recv_ms) AS recv_ts, raw,
             regexp_extract(raw, '{_HEADER_SQL_RE}', 1) AS src0,
             regexp_extract(raw, '{_HEADER_SQL_RE}', 2) AS dst0,
             regexp_extract(raw, '{_HEADER_SQL_RE}', 3) AS path_str,
             regexp_extract(raw, '{_HEADER_SQL_RE}', 4) AS info
      FROM {values}),
    y AS (SELECT *, CASE WHEN path_str = '' THEN CAST([] AS VARCHAR[])
                         ELSE string_split(path_str, ',')[2:] END AS path
          FROM h),
    z AS (SELECT *,
            CASE WHEN info <> '' THEN substr(info, 1, 1) END AS dti,
            (list_filter(path, p -> regexp_matches(p, '^qA')))[1] AS q_construct,
            path[list_position(path,
                (list_filter(path, p -> regexp_matches(p, '^qA')))[1]) + 1] AS gate
          FROM y),
    b AS (SELECT *,
            CASE WHEN dti IN ('!', '=') THEN substr(info, 2)
                 WHEN dti IN ('/', '@') THEN substr(info, 9)
                 WHEN dti = ';' THEN substr(info, 19)
                 WHEN dti = ')' THEN regexp_extract(info, '^\)([^!_]{{3,9}})[!_](.*)$', 2)
                 ELSE '' END AS body
          FROM z),
    g AS (SELECT *,
            regexp_extract(body, '{_POS_SQL_RE}', 1) AS latd,
            regexp_extract(body, '{_POS_SQL_RE}', 2) AS latm,
            regexp_extract(body, '{_POS_SQL_RE}', 3) AS ns,
            regexp_extract(body, '{_POS_SQL_RE}', 4) AS symt,
            regexp_extract(body, '{_POS_SQL_RE}', 5) AS lond,
            regexp_extract(body, '{_POS_SQL_RE}', 6) AS lonm,
            regexp_extract(body, '{_POS_SQL_RE}', 7) AS ew,
            regexp_extract(body, '{_POS_SQL_RE}', 8) AS sym,
            regexp_extract(body, '{_POS_SQL_RE}', 9) AS aftr
          FROM b),
    p AS (SELECT *, (ns <> '') AS matched,
            regexp_extract(aftr, '^(\d{{3}})/(\d{{3}})', 1) AS cse,
            regexp_extract(aftr, '^(\d{{3}})/(\d{{3}})', 2) AS spd,
            regexp_extract(body, '/A=(\d{{6}})', 1) AS alt_ft
          FROM g),
    e AS (SELECT *,
            CASE WHEN src0 = '' THEN 'bad-header'
                 WHEN info IS NULL OR info = '' THEN 'empty-info' END AS parse_error
          FROM p)
    SELECT raw, recv_ts,
           CASE WHEN src0 = '' THEN NULL ELSE src0 END AS src,
           CASE WHEN dst0 = '' THEN NULL ELSE dst0 END AS dst,
           COALESCE(array_to_string(path, ','), '') AS path,
           q_construct, gate, dti,
           CASE WHEN parse_error IS NULL THEN {_FMT_DISPATCH_SQL} END AS fmt,
           CASE WHEN matched THEN (CAST(latd AS DOUBLE) + CAST(latm AS DOUBLE) / 60.0)
                * (CASE WHEN ns = 'S' THEN -1.0 ELSE 1.0 END) END AS latitude,
           CASE WHEN matched THEN (CAST(lond AS DOUBLE) + CAST(lonm AS DOUBLE) / 60.0)
                * (CASE WHEN ew = 'W' THEN -1.0 ELSE 1.0 END) END AS longitude,
           CASE WHEN matched THEN symt END AS symbol_table,
           CASE WHEN matched THEN sym END AS symbol,
           CASE WHEN matched AND alt_ft <> '' THEN CAST(alt_ft AS DOUBLE) * 0.3048
             END AS altitude_m,
           CASE WHEN matched AND cse <> '' THEN CAST(cse AS DOUBLE) END AS course_deg,
           CASE WHEN matched AND spd <> '' THEN CAST(spd AS DOUBLE) * 1.852
             END AS speed_kmh,
           CASE WHEN matched THEN regexp_replace(aftr, '^(\d{{3}})/(\d{{3}})', '')
                WHEN dti = '>' THEN substr(info, 2) END AS comment,
           CASE WHEN dti = ';' THEN trim(substr(info, 2, 9))
                WHEN dti = ')' THEN regexp_extract(info, '^\)([^!_]{{3,9}})[!_]', 1)
             END AS obj_name,
           CASE WHEN dti = ';' THEN substr(info, 11, 1) = '*'
                WHEN dti = ')' THEN NOT regexp_matches(info, '^\)[^!_]{{3,9}}_')
             END AS obj_alive,
           parse_error
    FROM e
    """


@query("aprs_pipeline", oracle=_pipeline_oracle())
def aprs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming ingest: fixture replay → full parse →
    typed wide frame (all format branches in one pass). Hash-checked
    via the fixture-VALUES detour over the union of ALL FIVE replay
    fixtures (296 lines): every scalar column of the wide frame is
    value-compared; the three struct columns (wx/telemetry/msg) are
    dropped here because their contents are value-checked by their own
    dedicated qids (aprs_wx, aprs_telemetry_eng, aprs_msg_ack)."""
    frames = [_read_fixture(spark, n) for n in _PIPELINE_FIXTURES]
    allp = frames[0]
    for f in frames[1:]:
        allp = allp.unionByName(f)
    parsed = parse_packets(allp, recv_ts_col="recv_ts")
    return parsed.select(
        "raw",
        "recv_ts",
        "src",
        "dst",
        F.concat_ws(",", "path").alias("path"),
        "q_construct",
        "gate",
        "dti",
        "fmt",
        "latitude",
        "longitude",
        "symbol_table",
        "symbol",
        "altitude_m",
        "course_deg",
        "speed_kmh",
        "comment",
        "obj_name",
        "obj_alive",
        "parse_error",
    )


@query(
    "aprs_lastpos",
    oracle=_fixture_base_sql("pos_uncompressed.txt")
    + f"""
    , b AS (SELECT recv_ts, src,
             CASE WHEN substr(info, 1, 1) IN ('!', '=') THEN substr(info, 2)
                  WHEN substr(info, 1, 1) IN ('/', '@') THEN substr(info, 9)
                  ELSE '' END AS body
      FROM x),
    g AS (SELECT recv_ts, src,
             regexp_extract(body, '{_POS_SQL_RE}', 1) AS latd,
             regexp_extract(body, '{_POS_SQL_RE}', 2) AS latm,
             regexp_extract(body, '{_POS_SQL_RE}', 3) AS ns,
             regexp_extract(body, '{_POS_SQL_RE}', 5) AS lond,
             regexp_extract(body, '{_POS_SQL_RE}', 6) AS lonm,
             regexp_extract(body, '{_POS_SQL_RE}', 7) AS ew,
             regexp_extract(body, '{_POS_SQL_RE}', 8) AS sym
      FROM b),
    p AS (SELECT src, recv_ts,
             CASE WHEN ns <> '' THEN (CAST(latd AS DOUBLE) + CAST(latm AS DOUBLE) / 60.0)
                  * (CASE WHEN ns = 'S' THEN -1.0 ELSE 1.0 END) END AS latitude,
             CASE WHEN ns <> '' THEN (CAST(lond AS DOUBLE) + CAST(lonm AS DOUBLE) / 60.0)
                  * (CASE WHEN ew = 'W' THEN -1.0 ELSE 1.0 END) END AS longitude,
             CASE WHEN ns <> '' THEN sym END AS symbol
      FROM g)
    SELECT src, MAX(recv_ts) AS last_heard, COUNT(*) AS n_packets,
           arg_max(latitude, recv_ts) AS last_lat,
           arg_max(longitude, recv_ts) AS last_lon,
           arg_max(symbol, recv_ts) AS symbol
    FROM p WHERE src IS NOT NULL GROUP BY src
    """,
)
def aprs_lastpos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Where is station X now' — stations dimension with last-heard
    position (the collector's upsert target, as a batch aggregate).
    Hash-checked via the fixture-VALUES detour: the oracle re-parses the
    same replay lines with the identical header/position regexes and
    aggregates with arg_max (= max_by; fixture timestamps are unique
    per station, so the tie-free equivalence is exact)."""
    parsed = parse_packets(_read_fixture(spark, "pos_uncompressed.txt"), recv_ts_col="recv_ts")
    return station_view(parsed)


_MSG_NO_CAP_RE = r"\{([A-Za-z0-9]{1,5})$"
_MSG_NO_STRIP_RE = r"\{[A-Za-z0-9]{1,5}$"
_ACK_CAP_RE = r"^ack([A-Za-z0-9]{1,5})$"
_ACK_RE = r"^ack[A-Za-z0-9]{1,5}$"
_REJ_RE = r"^rej[A-Za-z0-9]{1,5}$"


@query(
    "aprs_msg_ack",
    oracle=_fixture_base_sql("msgs_acks.txt")
    + f"""
    , m AS (SELECT recv_ts, src,
             trim(substr(info, 2, 9)) AS addressee,
             CASE WHEN substr(info, 11, 1) = ':' THEN substr(info, 12, 67) END AS body
      FROM x WHERE substr(info, 1, 1) = ':'),
    msgs AS (SELECT src AS m_from, addressee AS m_to,
                    CASE WHEN regexp_extract(body, '{_MSG_NO_CAP_RE}', 1) <> ''
                         THEN regexp_extract(body, '{_MSG_NO_CAP_RE}', 1) END AS msg_no,
                    regexp_replace(body, '{_MSG_NO_STRIP_RE}', '') AS text,
                    recv_ts AS sent_ts
             FROM m WHERE body IS NOT NULL
               AND NOT regexp_matches(body, '{_ACK_RE}')
               AND NOT regexp_matches(body, '{_REJ_RE}')),
    acks AS (SELECT src AS a_from, addressee AS a_to,
                    regexp_extract(body, '{_ACK_CAP_RE}', 1) AS ack_no,
                    recv_ts AS ack_ts
             FROM m WHERE body IS NOT NULL AND regexp_matches(body, '{_ACK_RE}'))
    SELECT m_from, m_to, msg_no, text, sent_ts, ack_ts,
           (ack_ts IS NOT NULL) AS acked
    FROM msgs LEFT JOIN acks
      ON m_from = a_to AND m_to = a_from AND msg_no = ack_no
    """,
)
def aprs_msg_ack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Message↔ack correlation: self-join on (from,to,msgNo) reversed —
    APRS101 §14 ack semantics (c_join_self's domain shape). Hash-checked
    via the fixture-VALUES detour: the oracle re-parses the same replay
    lines with the identical §14 message grammar and runs the same
    reversed-key left join."""
    # persisted: msgs and acks both branch off the parse chain (~55
    # regexp/split nodes) and Spark re-evaluates it per consumer —
    # same no-ReuseExchange rationale as the dedup self-joins.
    parsed = parse_packets(
        _read_fixture(spark, "msgs_acks.txt"), recv_ts_col="recv_ts"
    ).persist()
    msgs = parsed.where(
        F.col("msg").isNotNull() & ~F.col("msg.is_ack") & ~F.col("msg.is_rej")
    ).select(
        F.col("src").alias("m_from"),
        F.col("msg.addressee").alias("m_to"),
        F.col("msg.msg_no").alias("msg_no"),
        F.col("msg.text").alias("text"),
        F.col("recv_ts").alias("sent_ts"),
    )
    acks = parsed.where(F.col("msg.is_ack")).select(
        F.col("src").alias("a_from"),
        F.col("msg.addressee").alias("a_to"),
        F.regexp_extract(F.col("msg.text"), r"^ack([A-Za-z0-9]{1,5})$", 1).alias("ack_no"),
        F.col("recv_ts").alias("ack_ts"),
    )
    return msgs.join(
        acks,
        (F.col("m_from") == F.col("a_to"))
        & (F.col("m_to") == F.col("a_from"))
        & (F.col("msg_no") == F.col("ack_no")),
        "left",
    ).select(
        "m_from", "m_to", "msg_no", "text", "sent_ts", "ack_ts",
        F.col("ack_ts").isNotNull().alias("acked"),
    )


@query(
    "aprs_wx",
    oracle=_fixture_base_sql("wx_telemetry.txt")
    + r"""
    SELECT src, recv_ts,
           CASE WHEN substr(info, 1, 1) = '_' THEN 'wx' ELSE 'telemetry' END AS fmt,
           CASE WHEN substr(info, 1, 1) = '_'
                AND regexp_extract(info, 'c(\d{3})', 1) <> ''
                THEN CAST(regexp_extract(info, 'c(\d{3})', 1) AS INTEGER) END AS wind_dir,
           CASE WHEN substr(info, 1, 1) = '_'
                AND regexp_extract(info, 's(\d{3})', 1) <> ''
                THEN TRY_CAST(regexp_extract(info, 's(\d{3})', 1) AS DOUBLE) * 1.609344
             END AS wind_speed,
           CASE WHEN substr(info, 1, 1) = '_'
                AND regexp_extract(info, 't(-?\d{2,3})', 1) <> ''
                THEN TRY_CAST(regexp_extract(info, 't(-?\d{2,3})', 1) AS DOUBLE)
             END AS temp_f,
           CASE WHEN substr(info, 1, 1) = '_'
                AND regexp_extract(info, 'h(\d{2})', 1) <> ''
                THEN CAST(regexp_extract(info, 'h(\d{2})', 1) AS INTEGER) END AS humidity,
           CASE WHEN substr(info, 1, 1) = '_'
                AND regexp_extract(info, 'b(\d{5})', 1) <> ''
                THEN TRY_CAST(regexp_extract(info, 'b(\d{5})', 1) AS DOUBLE) * 0.1
             END AS pressure_mb,
           CASE WHEN substr(info, 1, 1) = 'T'
                THEN CAST(regexp_extract(info, '^T#(\d{1,3})', 1) AS INTEGER) END AS tel_seq,
           CASE WHEN substr(info, 1, 1) = 'T'
                THEN string_split(regexp_extract(info, '^T#\d{1,3},(.*)$', 1), ',')[6]
             END AS tel_bits
    FROM x
    WHERE substr(info, 1, 1) = '_'
       OR (substr(info, 1, 1) = 'T' AND regexp_extract(info, '^T#(\d{1,3})', 1) <> '')
    """,
)
def aprs_wx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed weather + telemetry extraction from the mixed fixture.
    Hash-checked via the fixture-VALUES detour (§12 letter-field grammar
    re-run in the oracle); scalar columns only — wind_speed/humidity
    replace the JSON-serialized telemetry array so every cell is
    directly comparable (raw channel values live in aprs_telemetry_eng)."""
    parsed = parse_packets(_read_fixture(spark, "wx_telemetry.txt"), recv_ts_col="recv_ts")
    return parsed.where(
        F.col("wx").isNotNull() | F.col("telemetry").isNotNull()
    ).select(
        "src",
        "recv_ts",
        "fmt",
        F.col("wx.wind_dir").alias("wind_dir"),
        F.col("wx.wind_speed").alias("wind_speed"),
        F.col("wx.temp_f").alias("temp_f"),
        F.col("wx.humidity").alias("humidity"),
        F.col("wx.pressure_mb").alias("pressure_mb"),
        F.col("telemetry.seq").alias("tel_seq"),
        F.col("telemetry.bits").alias("tel_bits"),
    )


def _decode_udf_oracle() -> str:
    """DuckDB twin of the pandas-UDF decoders for the columns this qid
    emits (lat/lon/symbol_table/symbol — the cs/altitude tail is not
    selected). Base-91: integer fold over ascii()-33, then the SAME
    IEEE ops as decoders._decode_compressed_one (90.0 - v/380926.0).
    Mic-E latitude rebuilds the 'mm.hh' DECIMAL STRING and casts — the
    Python decoder goes through float('mm.hh'), and decimal parse is
    correctly rounded on both engines, while d3*10+d4 + d5d6/100.0
    arithmetic could differ in the last ulp. Validity predicates mirror
    the decoders' guards exactly (char ranges, lengths, digit map)."""
    # b91(body[i..i+3]) as an integer fold, 1-indexed start position
    def b91(start: int) -> str:
        v = "0"
        for k in range(4):
            v = f"(({v}) * 91 + (ascii(substr(body, {start + k}, 1)) - 33))"
        return v

    comp_chars_ok = " AND ".join(
        f"ascii(substr(body, {i}, 1)) BETWEEN 33 AND 123" for i in range(2, 10)
    )
    # Mic-E dst digit for 1-indexed position i of dst6
    def mdig(i: int) -> str:
        c = f"substr(dst6, {i}, 1)"
        return (
            f"(CASE WHEN {c} BETWEEN '0' AND '9' THEN ascii({c}) - 48"
            f" WHEN {c} BETWEEN 'A' AND 'J' THEN ascii({c}) - 65"
            f" WHEN {c} IN ('K', 'L', 'Z') THEN 0"
            f" WHEN {c} BETWEEN 'P' AND 'Y' THEN ascii({c}) - 80 END)"
        )

    return rf"""
    WITH x AS (
      SELECT CASE WHEN regexp_extract(raw, '{_HEADER_SQL_RE}', 1) = '' THEN NULL
                  ELSE regexp_extract(raw, '{_HEADER_SQL_RE}', 1) END AS src,
             regexp_extract(raw, '{_HEADER_SQL_RE}', 2) AS dst,
             regexp_extract(raw, '{_HEADER_SQL_RE}', 4) AS info
      FROM {_fixture_values_sql("mice_compressed.txt")}),
    d AS (SELECT src, dst, info,
            CASE WHEN info <> '' THEN substr(info, 1, 1) END AS dti FROM x),
    f AS (SELECT *,
            regexp_extract(CASE WHEN dti IN ('!', '=') THEN substr(info, 2)
                                WHEN dti IN ('/', '@') THEN substr(info, 9)
                                ELSE '' END, '{_POS_SQL_RE}', 3) <> '' AS matched
          FROM d),
    t AS (SELECT src, dst, info, dti, {_FMT_DISPATCH_SQL} AS fmt FROM f),
    comp AS (
      SELECT src, info,
             CASE WHEN dti IN ('!', '=') THEN substr(info, 2)
                  ELSE substr(info, 9) END AS body
      FROM t WHERE fmt = 'compressed'),
    compok AS (
      SELECT src, body,
             length(body) >= 10
             AND (substr(body, 1, 1) = '/' OR substr(body, 1, 1) = '\'
                  OR substr(body, 1, 1) BETWEEN '0' AND '9'
                  OR substr(body, 1, 1) BETWEEN 'A' AND 'Z')
             AND {comp_chars_ok} AS ok
      FROM comp),
    compdec AS (
      SELECT src,
             CASE WHEN ok THEN 90.0 - ({b91(2)}) / 380926.0 END AS latitude,
             CASE WHEN ok THEN -180.0 + ({b91(6)}) / 190463.0 END AS longitude,
             CASE WHEN ok THEN substr(body, 1, 1) END AS symbol_table,
             CASE WHEN ok THEN substr(body, 10, 1) END AS symbol
      FROM compok),
    mice AS (
      SELECT src, substr(dst, 1, 6) AS dst6, info
      FROM t WHERE fmt = 'mic-e'),
    miceok AS (
      SELECT *, length(dst6) >= 6 AND length(info) >= 9
             AND substr(info, 1, 1) IN ('`', '''')
             AND regexp_matches(dst6, '^[0-9A-LP-Z]{{6}}$') AS ok,
             {mdig(1)} AS d1, {mdig(2)} AS d2, {mdig(3)} AS d3,
             {mdig(4)} AS d4, {mdig(5)} AS d5, {mdig(6)} AS d6,
             (substr(dst6, 4, 1) BETWEEN 'P' AND 'Z') AS is_north,
             (CASE WHEN substr(dst6, 5, 1) BETWEEN 'P' AND 'Z' THEN 100 ELSE 0 END)
               AS lon_off,
             (substr(dst6, 6, 1) BETWEEN 'P' AND 'Z') AS is_west,
             ascii(substr(info, 2, 1)) - 28 AS d28,
             ascii(substr(info, 3, 1)) - 28 AS m28,
             ascii(substr(info, 4, 1)) - 28 AS h28
      FROM mice),
    micedec AS (
      SELECT src,
             CASE WHEN ok THEN
               (CASE WHEN is_north THEN 1.0 ELSE -1.0 END)
               * ((d1 * 10 + d2)
                  + CAST(CAST(d3 AS VARCHAR) || CAST(d4 AS VARCHAR) || '.'
                         || CAST(d5 AS VARCHAR) || CAST(d6 AS VARCHAR) AS DOUBLE)
                    / 60.0) END AS latitude,
             CASE WHEN ok THEN
               (CASE WHEN is_west THEN -1.0 ELSE 1.0 END)
               * ((CASE WHEN d28 + lon_off BETWEEN 180 AND 189 THEN d28 + lon_off - 80
                        WHEN d28 + lon_off BETWEEN 190 AND 199 THEN d28 + lon_off - 190
                        ELSE d28 + lon_off END)
                  + ((CASE WHEN m28 >= 60 THEN m28 - 60 ELSE m28 END)
                     + h28 / 100.0) / 60.0) END AS longitude,
             CASE WHEN ok THEN substr(info, 9, 1) END AS symbol_table,
             CASE WHEN ok THEN substr(info, 8, 1) END AS symbol
      FROM miceok)
    SELECT t.src, t.fmt,
           COALESCE(c.latitude, m.latitude) AS latitude,
           COALESCE(c.longitude, m.longitude) AS longitude,
           COALESCE(c.symbol_table, m.symbol_table) AS symbol_table,
           COALESCE(c.symbol, m.symbol) AS symbol
    FROM t LEFT JOIN compdec c ON t.src = c.src
           LEFT JOIN micedec m ON t.src = m.src
    """


@query("aprs_decode_udf", oracle=_decode_udf_oracle())
def aprs_decode_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-position decode via the Arrow pandas UDF (the
    sanctioned non-expression path). Hash-checked as of r6: the oracle
    re-derives base-91 and Mic-E lat/lon with exact integer folds and
    the identical IEEE float ops (see _decode_udf_oracle), so even the
    pandas-UDF escape hatch is value-verified — the Spark-side batching
    can't silently reorder or misalign rows without failing the hash."""
    parsed = parse_packets(_read_fixture(spark, "mice_compressed.txt"), recv_ts_col="recv_ts")
    info = parse_tnc2("raw").getField("info")
    enriched = enrich_positions(parsed, info)
    return enriched.select("src", "fmt", "latitude", "longitude", "symbol_table", "symbol")


@query(
    "aprs_malformed",
    oracle=_fixture_base_sql("malformed.txt")
    + rf"""
    , d AS (SELECT raw, src, info,
             CASE WHEN info <> '' THEN substr(info, 1, 1) END AS dti
      FROM x),
    p AS (SELECT raw, src, info, dti,
             regexp_extract(
               CASE WHEN dti IN ('!', '=') THEN substr(info, 2)
                    WHEN dti IN ('/', '@') THEN substr(info, 9)
                    WHEN dti = ';' THEN substr(info, 19)
                    WHEN dti = ')' THEN regexp_extract(info, '^\)([^!_]{{3,9}})[!_](.*)$', 2)
                    ELSE '' END,
               '{_POS_SQL_RE}', 3) <> '' AS matched
      FROM d),
    e AS (SELECT raw, src, dti, matched,
             CASE WHEN src IS NULL THEN 'bad-header'
                  WHEN info IS NULL OR info = '' THEN 'empty-info' END AS parse_error
      FROM p)
    SELECT raw, src,
           CASE WHEN parse_error IS NULL THEN {_FMT_DISPATCH_SQL} END AS fmt,
           parse_error
    FROM e
    """,
)
def aprs_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-packet audit: every malformed line lands with parse_error set;
    the parse itself must not raise. Hash-checked via the fixture-VALUES
    detour: the oracle replays the full DTI dispatch (including the
    'position DTI but digit-less body → compressed' fallback) and the
    bad-header/empty-info classification."""
    parsed = parse_packets(_read_fixture(spark, "malformed.txt"), recv_ts_col="recv_ts")
    return parsed.select("raw", "src", "fmt", "parse_error")


_OBJECT_FRAMES = [
    "N0CALL>APRS,qAR,G:;LEADER   *111111z4903.50N/07201.75W>object cmt",
    "N0CALL>APRS,qAR,G:;DEADOBJ  _111111z4903.50N/07201.75W>gone",
    "N1CALL>APRS,qAR,G:)AID#2!4903.50N/07201.75WA",
    "N1CALL>APRS,qAR,G:)GONE_4903.50N/07201.75WA",
]


def _objects_oracle() -> str:
    rows = ", ".join("('" + f.replace("'", "''") + "')" for f in _OBJECT_FRAMES)
    return rf"""
    WITH x AS (
      SELECT regexp_extract(raw, '{_HEADER_SQL_RE}', 1) AS src,
             regexp_extract(raw, '{_HEADER_SQL_RE}', 4) AS info
      FROM (VALUES {rows}) t(raw)),
    d AS (SELECT src, info, substr(info, 1, 1) AS dti,
             CASE WHEN substr(info, 1, 1) = ';' THEN substr(info, 19)
                  WHEN substr(info, 1, 1) = ')'
                  THEN regexp_extract(info, '^\)([^!_]{{3,9}})[!_](.*)$', 2)
                  ELSE '' END AS body
      FROM x),
    g AS (SELECT src, info, dti, body,
             regexp_extract(body, '{_POS_SQL_RE}', 1) AS latd,
             regexp_extract(body, '{_POS_SQL_RE}', 2) AS latm,
             regexp_extract(body, '{_POS_SQL_RE}', 3) AS ns,
             regexp_extract(body, '{_POS_SQL_RE}', 5) AS lond,
             regexp_extract(body, '{_POS_SQL_RE}', 6) AS lonm,
             regexp_extract(body, '{_POS_SQL_RE}', 7) AS ew,
             regexp_extract(body, '{_POS_SQL_RE}', 8) AS sym
      FROM d)
    SELECT src,
           CASE WHEN dti = ';' THEN 'object' ELSE 'item' END AS fmt,
           CASE WHEN dti = ';' THEN trim(substr(info, 2, 9))
                ELSE regexp_extract(info, '^\)([^!_]{{3,9}})[!_]', 1) END AS obj_name,
           CASE WHEN dti = ';' THEN substr(info, 11, 1) = '*'
                ELSE NOT regexp_matches(info, '^\)[^!_]{{3,9}}_') END AS obj_alive,
           CASE WHEN ns <> '' THEN (CAST(latd AS DOUBLE) + CAST(latm AS DOUBLE) / 60.0)
                * (CASE WHEN ns = 'S' THEN -1.0 ELSE 1.0 END) END AS latitude,
           CASE WHEN ns <> '' THEN (CAST(lond AS DOUBLE) + CAST(lonm AS DOUBLE) / 60.0)
                * (CASE WHEN ew = 'W' THEN -1.0 ELSE 1.0 END) END AS longitude,
           CASE WHEN ns <> '' THEN sym END AS symbol
    FROM g
    """


@query("aprs_objects", oracle=_objects_oracle())
def aprs_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object/item reports (APRS101 §11): named map entities with
    positions — parsed from literal frames covering live/killed objects
    and items. Hash-checked: the oracle replays the §11 name/kill-bit
    grammar and position decode on the same literal frames."""
    df = spark.createDataFrame([(f,) for f in _OBJECT_FRAMES], "raw string")
    from ..aprs.parse import parse_packets

    return parse_packets(df).select(
        "src", "fmt", "obj_name", "obj_alive", "latitude", "longitude", "symbol"
    )


def _telemetry_eng_oracle() -> str:
    """DuckDB twin of eqns_definitions + apply_eqns over the fixture:
    T# frames and EQNS messages parsed from the same lines, joined on
    station, each channel scaled a·v²+b·v+c with the identical
    left-assoc IEEE fold; stations with no EQNS row take the identity
    polynomial (0,1,0) exactly as the Spark coalesce does."""
    seq_re, rest_re, eqns_re = r"^T#(\d{1,3})", r"^T#\d{1,3},(.*)$", r"^EQNS\."
    coefs = ", ".join(
        f"arg_max(TRY_CAST(cs[{3 * i + j + 1}] AS DOUBLE), recv_ts) AS {c}{i + 1}"
        for i in range(5)
        for j, c in enumerate("abc")
    )
    vcols = ", ".join(f"TRY_CAST(parts[{i + 1}] AS DOUBLE) AS v{i + 1}" for i in range(5))
    ecols = ", ".join(
        f"CASE WHEN station IS NULL THEN 0.0 * v{i} * v{i} + 1.0 * v{i} + 0.0 "
        f"ELSE a{i} * v{i} * v{i} + b{i} * v{i} + c{i} END AS e{i}"
        for i in (1, 2, 3, 4, 5)
    )
    return (
        _fixture_base_sql("wx_telemetry.txt")
        + f"""
    , tel AS (SELECT src, recv_ts,
               CAST(regexp_extract(info, '{seq_re}', 1) AS INTEGER) AS seq,
               string_split(regexp_extract(info, '{rest_re}', 1), ',') AS parts
        FROM x WHERE substr(info, 1, 1) = 'T'
          AND regexp_extract(info, '{seq_re}', 1) <> ''),
    telv AS (SELECT src, recv_ts, seq, parts[6] AS bits, {vcols} FROM tel),
    eq AS (SELECT trim(substr(info, 2, 9)) AS station, recv_ts,
               string_split(regexp_replace(substr(info, 12, 67), '{eqns_re}', ''), ',') AS cs
        FROM x WHERE substr(info, 1, 1) = ':' AND substr(info, 11, 1) = ':'
          AND regexp_matches(substr(info, 12, 67), '{eqns_re}')),
    defs AS (SELECT station, {coefs} FROM eq GROUP BY station)
    SELECT src, recv_ts, seq, bits, v1, v2, v3, v4, v5, {ecols}
    FROM telv LEFT JOIN defs ON telv.src = defs.station
    """
    )


@query("aprs_telemetry_eng", oracle=_telemetry_eng_oracle())
def aprs_telemetry_eng(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry in engineering units: EQNS definition messages joined to
    T# frames, a·v²+b·v+c per channel (aprs/telemetry.py). Hash-checked
    via the fixture-VALUES detour; channels unpacked to scalar columns
    (v1..v5 raw counts, e1..e5 engineering values) so every cell is
    value-comparable without JSON serialization."""
    from ..aprs.telemetry import apply_eqns, eqns_definitions

    # persisted: the EQNS-definition extraction and the T#-frame side
    # both branch off the parse chain (multi-consumer — see aprs_msg_ack)
    parsed = parse_packets(
        _read_fixture(spark, "wx_telemetry.txt"), recv_ts_col="recv_ts"
    ).persist()
    defs = eqns_definitions(parsed)
    out = apply_eqns(parsed, defs)
    return out.select(
        "src",
        "recv_ts",
        "seq",
        "bits",
        *[F.col("vals").getItem(i).alias(f"v{i + 1}") for i in range(5)],
        *[F.col("eng_vals").getItem(i).alias(f"e{i + 1}") for i in range(5)],
    )


@query(
    "h_str_parse_phg",
    oracle="""
    WITH x AS (
      SELECT raw, regexp_extract(raw, 'PHG(\\d)(\\d)(\\d)(\\d)', 1) AS p,
                  regexp_extract(raw, 'PHG(\\d)(\\d)(\\d)(\\d)', 2) AS h,
                  regexp_extract(raw, 'PHG(\\d)(\\d)(\\d)(\\d)', 3) AS g,
                  regexp_extract(raw, 'PHG(\\d)(\\d)(\\d)(\\d)', 4) AS d
      FROM (VALUES
        ('N0CALL>APRS,qAR,G:!4903.50N/07201.75W#PHG5132 digi'),
        ('N1CALL>APRS,qAR,G:!4903.50N/07201.75W#PHG9000 big amp'),
        ('N2CALL>APRS,qAR,G:!4903.50N/07201.75W#PHG0360'),
        ('N3CALL>APRS,qAR,G:!4903.50N/07201.75W-no phg here')) t(raw))
    SELECT raw,
           CASE WHEN p <> '' THEN CAST(p AS DOUBLE) * CAST(p AS DOUBLE) END AS power_w,
           CASE WHEN h <> '' THEN 10.0 * pow(2.0, CAST(h AS DOUBLE)) END AS height_ft,
           CASE WHEN g <> '' THEN CAST(g AS BIGINT) END AS gain_db,
           CASE WHEN d <> '' THEN CAST(d AS BIGINT) * 45 END AS directivity_deg
    FROM x
    """,
)
def h_str_parse_phg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHG (power-height-gain, APRS101 §7) decode from position
    comments: PHGphgd → power=p² W, height=10·2^h ft, gain dB,
    directivity=d·45°. Pure regexp+arithmetic; nulls when absent."""
    frames = [
        "N0CALL>APRS,qAR,G:!4903.50N/07201.75W#PHG5132 digi",
        "N1CALL>APRS,qAR,G:!4903.50N/07201.75W#PHG9000 big amp",
        "N2CALL>APRS,qAR,G:!4903.50N/07201.75W#PHG0360",
        "N3CALL>APRS,qAR,G:!4903.50N/07201.75W-no phg here",
    ]
    df = spark.createDataFrame([(f,) for f in frames], "raw string")
    g = lambda i: F.regexp_extract("raw", r"PHG(\d)(\d)(\d)(\d)", i)  # noqa: E731
    return df.select(
        "raw",
        F.when(g(1) != "", g(1).cast("double") * g(1).cast("double")).alias("power_w"),
        F.when(g(2) != "", 10.0 * F.pow(F.lit(2.0), g(2).cast("double"))).alias("height_ft"),
        F.when(g(3) != "", g(3).cast("long")).alias("gain_db"),
        F.when(g(4) != "", g(4).cast("long") * 45).alias("directivity_deg"),
    )
