"""Replication queries: the reference's own query semantics, mapped onto
the driver's ``events`` stream table (event_id, ts, user_id, event_type,
value, props).

Mapping: ``user_id`` plays the attacker ``address`` (the group key),
``event_type`` plays ``sensor/rule`` (the per-group sub-key). The shapes,
orderings and encodings are exactly the reference's report queries
(core/reporter.go, core/twitter.go) — see operators/reports.py for the
general-schema implementations these specialize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.queries import query
from takuan_spark.tables import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@query(
    "takuan_address_report",
    """
    WITH inner_counts AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events
        GROUP BY user_id, event_type
    )
    SELECT
        user_id AS address,
        CAST(SUM(cnt) AS BIGINT) AS total_events,
        string_agg(event_type || ':' || CAST(cnt AS VARCHAR), '|'
                   ORDER BY event_type || ':' || CAST(cnt AS VARCHAR)) AS counters
    FROM inner_counts
    GROUP BY user_id
    ORDER BY total_events DESC, address
    """,
    "Per-address report: O18-O23 (group-by, count, nested sub-agg, "
    "deterministic map->string counters encode, sort desc). "
    "Ref: core/reporter.go:97-173.",
)
def takuan_address_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    inner = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    segment = F.concat_ws(":", F.col("event_type"), F.col("cnt"))
    return (
        inner.groupBy("user_id")
        .agg(
            F.sum("cnt").alias("total_events"),
            F.concat_ws("|", F.sort_array(F.collect_list(segment))).alias("counters"),
        )
        .withColumnRenamed("user_id", "address")
        .orderBy(F.desc("total_events"), F.asc("address"))
    )


@query(
    "takuan_country_topk",
    """
    SELECT event_type, COUNT(*) AS total_events
    FROM events
    GROUP BY event_type
    ORDER BY total_events DESC, event_type
    LIMIT 5
    """,
    "Top-k summary: O26 group-by + count + sort + limit 5 "
    "(TakeOrderedAndProject). Ref: core/twitter.go:48-80.",
)
def takuan_country_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("total_events"))
        .orderBy(F.desc("total_events"), F.asc("event_type"))
        .limit(5)
    )


@query(
    "takuan_rule_filter",
    """
    SELECT event_id, user_id, event_type
    FROM events
    WHERE regexp_matches(event_type, '^(error|signup)$') AND value > 50.0
    ORDER BY event_id
    """,
    "Regex predicate filter + conjunction: O9 rule match + O16-style "
    "predicate. Ref: core/rule.go:23-31.",
)
def takuan_rule_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.where(F.col("event_type").rlike("^(error|signup)$") & (F.col("value") > 50.0))
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    )


@query(
    "takuan_rule_label",
    """
    SELECT * FROM (
        SELECT event_id,
               CASE WHEN event_type = 'error' THEN 'rule_error'
                    WHEN value > 150.0 THEN 'rule_high_value'
                    WHEN event_type = 'signup' THEN 'rule_signup'
               END AS rule
        FROM events
    ) WHERE rule IS NOT NULL
    ORDER BY event_id
    """,
    "Ordered first-match-wins rule disjunction: O10 as a chained CASE "
    "WHEN + isNotNull filter. Ref: core/sensor.go:88-106.",
)
def takuan_rule_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    rule = (
        F.when(F.col("event_type") == "error", "rule_error")
        .when(F.col("value") > 150.0, "rule_high_value")
        .when(F.col("event_type") == "signup", "rule_signup")
    )
    return (
        ev.select("event_id", rule.alias("rule"))
        .where(F.col("rule").isNotNull())
        .orderBy("event_id")
    )


@query(
    "takuan_json_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    ORDER BY event_id
    """,
    "JSON field extraction from the props payload column (SURVEY.md "
    "§2.1 scalar functions; get_json_object).",
)
def takuan_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_id", k.alias("k"))
        .where(F.col("k") >= 50)
        .orderBy("event_id")
    )


@query(
    "takuan_hourly_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "Event-time tumbling-window aggregation (batch analog of the "
    "streaming F.window path; SURVEY.md §2.1 streaming-only).",
)
def takuan_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    hour = F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
    return (
        ev.groupBy(hour.alias("hour"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


@query(
    "takuan_regex_tokenize",
    """
    SELECT doc_id,
           regexp_extract(text, '^(\\w+)\\s+(\\w+)', 1) AS tok1,
           regexp_extract(text, '^(\\w+)\\s+(\\w+)', 2) AS tok2
    FROM documents
    WHERE regexp_matches(text, '^(\\w+)\\s+(\\w+)')
    ORDER BY doc_id
    """,
    "Regex tokenize projection: O4 capture groups -> named columns with "
    "non-match prefilter. Ref: core/parser.go:64-80.",
)
def takuan_regex_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pat = r"^(\w+)\s+(\w+)"
    return (
        docs.where(F.col("text").rlike(pat))
        .select(
            "doc_id",
            F.regexp_extract("text", pat, 1).alias("tok1"),
            F.regexp_extract("text", pat, 2).alias("tok2"),
        )
        .orderBy("doc_id")
    )


@query(
    "takuan_geo_enrich_join",
    """
    SELECT e.event_id, e.user_id, c.c_name AS user_name, n.n_name AS nation
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    ORDER BY e.event_id
    """,
    "Broadcast left-outer enrichment join: O12 geo lookup semantics "
    "(missing dim rows -> NULLs). Ref: core/aggregator.go:62-66.",
)
def takuan_geo_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    dim = F.broadcast(
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
        .select("c_custkey", "c_name", "n_name")
    )
    return (
        ev.join(dim, ev.user_id == dim.c_custkey, "left")
        .select(
            "event_id",
            "user_id",
            F.col("c_name").alias("user_name"),
            F.col("n_name").alias("nation"),
        )
        .orderBy("event_id")
    )


def _fake_rdns(addr: str) -> str | None:
    """Deterministic stand-in resolver for the driver-checkable rDNS
    query: hostname is md5-derived from the address, with every 4th
    address (by digest) simulating NXDOMAIN. The SAME derivation is
    plain SQL (md5 + substr + modulo), so the oracle re-derives what
    the executor-side resolver returned — the synth_wav contract,
    applied to a network lookup."""
    import hashlib

    h = hashlib.md5(addr.encode()).hexdigest()
    if int(h[:8], 16) % 4 == 0:
        return None
    return f"host-{h[:8]}.example.net"


@query(
    "takuan_rdns_enrich",
    """
    WITH ev AS (
        SELECT '203.0.' || CAST(user_id % 251 AS VARCHAR) || '.'
               || CAST((user_id // 251) % 251 AS VARCHAR) AS address
        FROM events
    ),
    agg AS (
        SELECT address, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM ev GROUP BY address
    )
    SELECT address,
           CASE WHEN CAST(concat('0x', substr(md5(address), 1, 8))
                     AS BIGINT) % 4 = 0 THEN NULL
                ELSE 'host-' || substr(md5(address), 1, 8)
                     || '.example.net' END AS hostname,
           n_events
    FROM agg
    ORDER BY address
    """,
    "O13 reverse-DNS enrichment (the reference ships it disabled as "
    "SLOW, core/aggregator.go:68-75): per-address event counts LEFT-"
    "enriched with hostnames through the real rdns_enrich plumbing — "
    "distinct-address dedup, executor-side mapInPandas resolver "
    "batches, left join back with NULL on NXDOMAIN. The injected "
    "resolver is the md5-deterministic fake so the oracle can "
    "re-derive every hostname.",
)
def takuan_rdns_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_spark.operators.enrich import rdns_enrich

    ev = _events(spark, sf_dir).select(
        F.concat(
            F.lit("203.0."),
            (F.col("user_id") % 251).cast("string"),
            F.lit("."),
            (F.expr("user_id DIV 251") % 251).cast("string"),
        ).alias("address")
    )
    agg = ev.groupBy("address").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    return rdns_enrich(agg, resolver=_fake_rdns).select(
        "address", "hostname", "n_events"
    ).orderBy("address")


_E2E_ORACLE = """
    WITH src AS (
        SELECT event_id, user_id, event_type,
               date_trunc('second', ts) AS created_at,
               '10.0.' || CAST(user_id % 251 AS VARCHAR) || '.'
                   || CAST((user_id // 251) % 251 AS VARCHAR) AS address
        FROM events
    ),
    parsed AS (
        -- the tokenize gate (corrupted renders fail the regex) and the
        -- ordered first-match-wins rule labels, re-derived from the
        -- source columns the render encoded
        SELECT address, created_at,
               CASE WHEN event_type = 'error' THEN 'auth-error'
                    WHEN event_type = 'signup' THEN 'error-or-signup'
                    WHEN event_type = 'purchase' THEN 'purchase'
               END AS rule
        FROM src
        WHERE event_id % 50 <> 0
    ),
    ev AS (
        SELECT * FROM parsed
        WHERE rule IS NOT NULL
          AND created_at < TIMESTAMP '2024-01-21 00:00:00'
    ),
    geo AS (
        SELECT '10.0.' || CAST(c_custkey % 251 AS VARCHAR) || '.'
                   || CAST((c_custkey // 251) % 251 AS VARCHAR) AS ip,
               CAST(c_nationkey AS VARCHAR) AS country_code,
               n_name AS country_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    ),
    enr AS (
        SELECT ev.address, ev.created_at, ev.rule,
               g.country_code, g.country_name
        FROM ev LEFT JOIN geo g ON ev.address = g.ip
    ),
    inner_counts AS (
        SELECT address, country_code, country_name, rule, COUNT(*) AS cnt
        FROM enr GROUP BY 1, 2, 3, 4
    ),
    rep AS (
        SELECT address,
               MIN(country_code) AS country_code,
               MIN(country_name) AS country_name,
               CAST(SUM(cnt) AS BIGINT) AS total_events,
               string_agg('app/' || rule || ':' || CAST(cnt AS VARCHAR), '|'
                          ORDER BY 'app/' || rule || ':'
                                   || CAST(cnt AS VARCHAR)) AS counters
        FROM inner_counts GROUP BY address
    ),
    seen AS (
        SELECT address,
               strftime(MIN(created_at), '%Y-%m-%d %H:%M:%S') AS first_seen,
               strftime(MAX(created_at), '%Y-%m-%d %H:%M:%S') AS last_seen
        FROM ev GROUP BY address
    )
    SELECT r.address, r.country_code, r.country_name, r.total_events,
           r.counters, s.first_seen, s.last_seen
    FROM rep r JOIN seen s ON r.address = s.address
    ORDER BY r.total_events DESC, r.address
"""


@query(
    "q_log_pipeline_e2e",
    _E2E_ORACLE,
    "The WHOLE reference pipeline as ONE oracle-paired query — raw log "
    "TEXT through tokenize (O4) -> first-match-wins rule label (O10) "
    "-> year-injection datetime repair + parse (O7/O8) -> geo "
    "enrichment join (O12) -> per-address report (O18-O23) — closing "
    "the one gap where the end-to-end composition was pytest-verified "
    "but never under the driver's hash gate (log_pipeline in bench). "
    "Log lines are rendered deterministically FROM the events table "
    "(syslog-shaped, yearless datetimes, every 50th line corrupted to "
    "exercise the parse gate) so DuckDB can re-derive every stage "
    "from the same source columns, then fed through the REAL operator "
    "chain: config_from_dict builds the ParserSpec/RuleSpec tree, "
    "compile_sensor runs tokenize + apply_rules + parse_datetime "
    "(the injected year restores what the render dropped; a wrong "
    "repair NULLs created_at and drops rows -> count mismatch), "
    "geo_enrich broadcast-joins a customer/nation-derived dimension "
    "(unknown addresses keep NULL country — the left-outer path), a "
    "parsed-time filter keeps the first 20 days (wrong parse selects "
    "wrong rows), and address_report emits the counters encoding, "
    "extended with per-address first/last-seen so the second-level "
    "parsed values sit inside the value hash. Green means every stage "
    "AND their composition match the reference semantics "
    "(core/sensor.go:42-123, core/parser.go:55-80, core/rule.go:23-31, "
    "core/aggregator.go:62-66, core/reporter.go:97-173) in one plan — "
    "scans stay columnar, the regex chain is codegen'd, the only "
    "shuffle is the report's two-level aggregation.",
)
def q_log_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_spark.config import config_from_dict
    from takuan_spark.operators.enrich import geo_enrich
    from takuan_spark.operators.reports import address_report
    from takuan_spark.plans.compiler import compile_sensor

    ev = _events(spark, sf_dir)
    # deterministic syslog render: yearless datetime (exercises O7),
    # message carrying the rule-relevant fields, user_id-derived IPv4.
    dt = F.date_format("ts", "MMM d HH:mm:ss")
    addr = F.concat(
        F.lit("10.0."),
        (F.col("user_id") % 251).cast("string"),
        F.lit("."),
        (F.expr("user_id DIV 251") % 251).cast("string"),
    )
    msg = F.concat(F.col("event_type"), F.lit(" uid "), F.col("user_id"))
    head = F.concat(dt, F.lit(" apphost takuan[7]: "), msg)
    full = F.concat(head, F.lit(" from "), addr)
    # every 50th line loses its source suffix and must fail the parse
    # gate (the reference's group-count check, core/parser.go:65)
    from takuan_spark.operators.skew import spread

    # spread: the 2 MB events scan splits into ~4 tasks, but everything
    # downstream of the render is regex CPU (tokenize + 3 rules +
    # datetime parse per line) — profiled 4.3 core-s pinned on 4 of 32
    # cores. The round-robin exchange moves only the raw lines and the
    # regex chain then runs at full width.
    lines = spread(
        ev.select(
            F.when(F.col("event_id") % 50 == 0, head)
            .otherwise(full)
            .alias("value")
        )
    )

    conf = config_from_dict(
        {
            "name": "e2e-node",
            "sensors": [
                {
                    "name": "app",
                    "filename": "-",
                    "parser": {
                        "expression": (
                            r"^(.+) apphost takuan\[\d+\]: (.+)"
                            r" from (\d+\.\d+\.\d+\.\d+)$"
                        ),
                        "datetime_format": "2006 Jan _2 15:04:05",
                        "tokens": {"datetime": 1, "message": 2, "address": 3},
                    },
                    "rules": [
                        # deliberately overlapping: an 'error' line also
                        # matches rule 2, so a broken precedence order
                        # mislabels every error row and reds the hash
                        {"name": "auth-error", "token": "message",
                         "expression": "^error "},
                        {"name": "error-or-signup", "token": "message",
                         "expression": "^(error|signup) "},
                        {"name": "purchase", "token": "message",
                         "expression": "^purchase uid [0-9]+$"},
                    ],
                }
            ],
        },
        year=2024,
    )
    sensor = conf.enabled_sensors()[0]
    events = compile_sensor(
        lines, sensor, node_name=conf.node_name, year=conf.year
    )

    geo_dim = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.concat(
                F.lit("10.0."),
                (F.col("c_custkey") % 251).cast("string"),
                F.lit("."),
                (F.expr("c_custkey DIV 251") % 251).cast("string"),
            ).alias("ip"),
            F.col("c_nationkey").cast("string").alias("country_code"),
            F.col("n_name").alias("country_name"),
        )
    )
    enriched = geo_enrich(events.drop("country_code", "country_name"), geo_dim)
    # parsed-time report horizon: selects the first 20 days through the
    # REPAIRED timestamp, so a wrong year injection or format
    # translation changes which rows survive
    ev20 = enriched.where(
        F.col("created_at") < F.lit("2024-01-21 00:00:00").cast("timestamp")
    )
    # seen_col folds first/last-seen through address_report's existing
    # two-level aggregation — one scan, one shuffle chain, no
    # self-join of the fact (the 100 TB-relevant composition).
    rep = address_report(ev20, seen_col="created_at")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return rep.select(
        "address", "country_code", "country_name", "total_events",
        "counters",
        F.date_format("first_seen", fmt).alias("first_seen"),
        F.date_format("last_seen", fmt).alias("last_seen"),
    ).orderBy(F.desc("total_events"), F.asc("address"))
