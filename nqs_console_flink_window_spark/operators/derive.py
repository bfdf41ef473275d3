"""Per-protocol scalar derivations (SURVEY §2.7 T2-T9) and the HTTP detail
aggregations (§2.6 A1/A2).

The reference computes these per record in Java (handler/parser/
HttpDataParser.java, GameDataParser.java, probe window functions).  Here each
derivation is an ANSI SQL expression builder: the engine applies it with
``F.expr`` (stays in whole-stage codegen) and the DuckDB oracle runs the same
text, so semantics cannot drift between engine and oracle.

All builders take a ``{logical_name: sql_expr}`` mapping so the same formula
serves the real NQS message schema and the fixture-table stand-ins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.dialect import fround

FIRST_SCREEN_K = 0.6  # gw-console.data.http.firstscreencost
MAGIC_MODEL = "DT741-csf"  # the product code a mojibake 'ÿÿÿÿ' is repaired to

# ---------------------------------------------------------------------------
# T2 — HTTP page metrics (handler/parser/HttpDataParser.java:21-66)
# ---------------------------------------------------------------------------


def http_page_metrics_sql(m: dict[str, str]) -> dict[str, str]:
    """Returns {out_col: sql_expr} for the HTTP page-metric chain.

    Inputs (keys of ``m``): page_size, trans_body_cost, dns_cost, tcp_cost,
    ssl_cost, element_load_cost, element_total_size.
    Semantics (HttpDataParser.java:21-66): KB/s speeds rounded to 4 decimals
    with divide-by-zero guarded to 0; conn = dns+tcp+ssl; text = conn +
    trans_body; first_screen = text + element_load * FIRST_SCREEN_K (config
    ``gw-console.data.http.firstscreencost``); page_total = text +
    element_load; page_avg_speed over page_size + element_total_size.
    """
    conn = f"(({m['dns_cost']}) + ({m['tcp_cost']}) + ({m['ssl_cost']}))"
    text = f"({conn} + ({m['trans_body_cost']}))"
    speed_raw = f"({m['page_size']}) / (({m['trans_body_cost']}) / 1000.0)"
    avg_speed = (
        f"(CASE WHEN ({m['trans_body_cost']}) = 0.0 THEN 0.0 "
        f"ELSE {fround(speed_raw, 4)} END)"
    )
    first_screen = f"({text} + ({m['element_load_cost']}) * {FIRST_SCREEN_K!r})"
    page_total = f"({text} + ({m['element_load_cost']}))"
    page_speed_raw = (
        f"(({m['page_size']}) + ({m['element_total_size']})) / ({page_total} / 1000.0)"
    )
    page_avg_speed = (
        f"(CASE WHEN {page_total} = 0.0 THEN 0.0 "
        f"ELSE {fround(page_speed_raw, 4)} END)"
    )
    return {
        "conn_cost": conn,
        "text_cost": text,
        "avg_speed": avg_speed,
        "first_screen_cost": first_screen,
        "page_total_cost": page_total,
        "page_avg_speed": page_avg_speed,
    }


# ---------------------------------------------------------------------------
# T4 — GAME metrics (handler/parser/GameDataParser.java:11-31)
# ---------------------------------------------------------------------------


def game_metrics_sql(m: dict[str, str]) -> dict[str, str]:
    """conn_cost = dns+tcp+ssl, but keep the reported conn_cost when all
    three components are 0; avg_speed falls back to size/(cost/1000) when not
    reported (<=0)."""
    summed = f"(({m['dns_cost']}) + ({m['tcp_cost']}) + ({m['ssl_cost']}))"
    conn = (
        f"(CASE WHEN ({m['dns_cost']}) = 0.0 AND ({m['tcp_cost']}) = 0.0 "
        f"AND ({m['ssl_cost']}) = 0.0 THEN ({m['conn_cost']}) ELSE {summed} END)"
    )
    fallback_raw = f"({m['size']}) / (({m['download_cost']}) / 1000.0)"
    avg_speed = (
        f"(CASE WHEN ({m['avg_speed']}) > 0.0 THEN ({m['avg_speed']}) "
        f"WHEN ({m['download_cost']}) = 0.0 THEN 0.0 "
        f"ELSE {fround(fallback_raw, 4)} END)"
    )
    return {"conn_cost": conn, "avg_speed": avg_speed}


# ---------------------------------------------------------------------------
# T5 — PON rx_power rescale (common/util/SmartGateWayUtil.java:9-17,
# WindowProbePonProcessFunction.java:49-50)
# ---------------------------------------------------------------------------


def repair_model_sql(model: str) -> str:
    """Vendor mojibake repair (handler/thread/ProbeInfoThread.java:76-78):
    some probes report their product code as the four-0xFF string 'ÿÿÿÿ'
    (an uninitialized EEPROM field decoded as Latin-1); the reference
    rewrites it to the known model before any model-conditional logic."""
    return f"(CASE WHEN ({model}) = 'ÿÿÿÿ' THEN '{MAGIC_MODEL}' ELSE ({model}) END)"


def pon_rescale_sql(rx_power: str, model: str) -> str:
    # The model conditional sees the REPAIRED product code, so mojibake
    # probes rescale exactly like explicitly-tagged DT741-csf units.
    repaired = repair_model_sql(model)
    return (
        f"(CASE WHEN {repaired} = '{MAGIC_MODEL}' THEN ({rx_power}) / 10000.0 "
        f"ELSE ({rx_power}) END)"
    )


# ---------------------------------------------------------------------------
# T6 — probe status derivation (WindowHeartbeatProcessFunction.java:101-113)
# ---------------------------------------------------------------------------


def probe_status_sql(connect_status: str) -> str:
    # Reference quirk preserved: 'connected' maps to 10 although 10 means
    # offline elsewhere (SURVEY §2.7 T6 flags the inconsistency).
    return f"(CASE WHEN ({connect_status}) = 'connected' THEN 10 ELSE 20 END)"


# ---------------------------------------------------------------------------
# T7 — region path / alias strings (handler/probe/ProbeHelper.java:28,
# WindowRegisterProcessFunction.java:112-120)
# ---------------------------------------------------------------------------


def region_path_sql(prov: str, city: str, district: str) -> str:
    return f"('/100000/' || ({prov}) || '/' || ({city}) || '/' || ({district}) || '/')"


def register_alias_sql(prov: str, city: str, district: str, uid: str) -> str:
    return f"(({prov}) || '-' || ({city}) || '-' || ({district}) || '-临时-' || ({uid}))"


# ---------------------------------------------------------------------------
# T8 — IPv4 dotted-quad validity (common/util/IPIPUtil.java:123-126)
# ---------------------------------------------------------------------------

IPV4_REGEX = (
    r"^((25[0-5]|2[0-4]\d|[01]?\d?\d)\.){3}(25[0-5]|2[0-4]\d|[01]?\d?\d)$"
)


def is_ipv4_col(col: str) -> Column:
    return F.col(col).rlike(IPV4_REGEX)


# ---------------------------------------------------------------------------
# A1 — HTTP element count/sum/rate (HttpDataParser.java:68-127)
# ---------------------------------------------------------------------------


def element_rate_sql(success_cnt: str, total_cnt: str) -> str:
    """elements_success_rate = round(succ/total*100, 4), 0 when total=0."""
    rate_raw = f"CAST({success_cnt} AS DOUBLE) * 100.0 / ({total_cnt})"
    return (
        f"(CASE WHEN ({total_cnt}) = 0 THEN 0.0 "
        f"ELSE {fround(rate_raw, 4)} END)"
    )
