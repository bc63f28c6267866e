"""robots.txt TEXT parsing + Crawl-delay -> politeness budget derivation.

The engine's enforcement layers (frontier robots filter, per-host caps per
superstep) consume STRUCTURED policies; this module supplies the missing
front door: parsing raw robots.txt bytes the way a fetcher receives them.
Reference scope: the tool reads only ``Sitemap:`` lines from robots.txt
(crawler/web_crawler.py sitemap discovery); full Allow/Disallow/Crawl-delay
parsing is the north-rule extension the frontier enforcement (COVERAGE.md
S6) was already built for.

Semantics implemented (RFC 9309 + the de-facto Crawl-delay extension):
- line-oriented; ``#`` comments stripped; field names case-insensitive
- groups = consecutive ``User-agent`` lines followed by directives; a
  directive before any User-agent line is ignored
- group selection: the group whose agent token is the LONGEST
  case-insensitive substring-match for our agent wins; ``*`` matches
  anything with the lowest precedence (RFC 9309 §2.2.1)
- ``Allow``/``Disallow`` path prefixes kept verbatim (matching itself lives
  in the frontier/native layer); empty ``Disallow:`` (allow-all) ignored
- ``Crawl-delay``: seconds (int or decimal) from the selected group
- ``Sitemap``: global, collected regardless of group

Enforcement lives here too (`with_robots_decision`/`enforce_robots_join`):
the per-host rules become one rule array per host, joined to candidates and
decided by longest prefix in Column algebra — the frontier's only robots
matcher. `oracle.robots_disallowed` is its pure-Python spec and
`native.robots_disallowed_sql` its DuckDB oracle.

Scale shape: robots bodies are fetched per HOST (10^6-10^7 rows at
web scale, not 10^10) and parsed in ONE mapInPandas pass; the output rules
table is exactly what `FrontierCrawler(robots_rules=...)` consumes, and
Crawl-delays become per-host superstep caps (`crawl_delay_to_caps`)
enforced by the existing host-cap window — parse once per robots fetch,
enforce JVM-side forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..session import local_frame

POLICY_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("rule", StringType()),         # allow | disallow
        StructField("path_prefix", StringType()),
        StructField("crawl_delay_ms", IntegerType()),  # group delay (dup per row)
    ]
)


def parse_robots_text(text: str, agent: str = "*") -> dict:
    """Parse one robots.txt body for ``agent``. Returns
    {'rules': [(rule, prefix), ...], 'crawl_delay_ms': int|None,
    'sitemaps': [url, ...]} — rules in file order (first-match layers
    downstream preserve it)."""
    groups: list[tuple[list, list]] = []  # (agent_tokens, directives)
    cur_agents: list[str] = []
    cur_dirs: list[tuple[str, str]] = []
    in_agent_run = False
    sitemaps: list[str] = []

    def close_group():
        nonlocal cur_agents, cur_dirs
        if cur_agents:
            groups.append((cur_agents, cur_dirs))
        cur_agents, cur_dirs = [], []

    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "sitemap":
            if value:
                sitemaps.append(value)
            continue
        if field == "user-agent":
            if not in_agent_run:
                close_group()
                in_agent_run = True
            cur_agents.append(value.lower())
            continue
        in_agent_run = False
        if cur_agents:
            cur_dirs.append((field, value))
    close_group()

    # RFC 9309 §2.2.1: longest agent token that is a substring of our agent;
    # '*' has the lowest precedence
    me = agent.lower()
    best_len = -1
    for agents, _dirs in groups:
        for a in agents:
            if a == "*":
                score = 0
            elif a and a in me:
                score = len(a)
            else:
                continue
            best_len = max(best_len, score)
    # RFC 9309 §2.2.1: ALL groups matching at the winning specificity are
    # combined (e.g. two separate 'User-agent: *' sections both apply),
    # rules concatenated in file order
    best: list[tuple[str, str]] = []
    for agents, dirs in groups:
        scores = [
            0 if a == "*" else len(a)
            for a in agents
            if a == "*" or (a and a in me)
        ]
        if scores and max(scores) == best_len:
            best.extend(dirs)
    rules: list[tuple[str, str]] = []
    delay_ms = None
    for field, value in best:
        if field == "disallow" and value:
            rules.append(("disallow", value))
        elif field == "allow" and value:
            rules.append(("allow", value))
        elif field == "crawl-delay":
            try:
                # Clamp to [0, 1 day]: POLICY_SCHEMA carries int32 and a
                # hostile 'Crawl-delay: 99999999999' (or a negative one)
                # must not overflow the Arrow conversion and kill the whole
                # parse batch — this module exists precisely to eat
                # untrusted robots bytes.
                delay_ms = min(max(int(float(value) * 1000), 0), 86_400_000)
            except (ValueError, OverflowError):
                pass  # garbage like 'inf'/'1e400'/'fast' -> no delay
    return {"rules": rules, "crawl_delay_ms": delay_ms, "sitemaps": sitemaps}


def parse_robots_df(
    bodies: DataFrame,
    host_col: str = "host",
    text_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """(host, robots_txt) -> one row per Allow/Disallow rule with the
    group's crawl_delay_ms replicated (hosts whose group has no path rules
    but a delay emit one ('allow', '/') carrier row so the delay survives).
    One mapInPandas pass; robots bodies never cross a shuffle."""

    def run(batches):
        import pandas as pd

        cols = [f.name for f in POLICY_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for host, text in zip(pdf[host_col], pdf[text_col]):
                parsed = parse_robots_text(text or "", agent=agent)
                delay = parsed["crawl_delay_ms"]
                if parsed["rules"]:
                    for rule, prefix in parsed["rules"]:
                        rows.append((host, rule, prefix, delay))
                elif delay is not None:
                    rows.append((host, "allow", "/", delay))
            yield pd.DataFrame(rows, columns=cols)

    return bodies.mapInPandas(run, POLICY_SCHEMA)


def rules_list(policies: DataFrame) -> list[tuple]:
    """Collect the (host, agent, rule, prefix) list `FrontierCrawler
    (robots_rules=...)` takes. Policies tables are host-sized — bounded."""
    return [
        (r["host"], "*", r["rule"], r["path_prefix"])
        for r in policies.filter(F.col("rule").isin("allow", "disallow"))
        .select("host", "rule", "path_prefix")
        .collect()
    ]


def crawl_delay_to_caps(policies: DataFrame, superstep_seconds: float) -> dict:
    """Crawl-delay -> per-host URL budget for one superstep: a host asking
    for delay d gets at most floor(superstep_seconds / d) fetches per wave
    (>=1 so progress is never starved). 'Crawl-delay: 0' (in the wild it
    means "no delay") yields no cap, like an absent directive. Returns the
    {host: cap} dict `CrawlConfig.host_caps` consumes."""
    rows = (
        policies.filter(F.col("crawl_delay_ms") > 0)
        .groupBy("host")
        .agg(F.max("crawl_delay_ms").alias("d"))
        .collect()
    )
    caps = {}
    for r in rows:
        caps[r["host"]] = max(1, int(superstep_seconds * 1000 // r["d"]))
    return caps


# ------------------------------------------------- scale-safe enforcement
#
# A Python rules dict captured in task closures (or a WHEN chain compiled
# from it) serializes into every task and grows the plan per rule — fine at
# corpus scale, not at a 10^10-URL frontier with 10^6+ hosts. The scalable
# carrier is a JOIN: keep policies as a DataFrame, pre-aggregate to
# ONE row per host holding its (tiny) rule array, broadcast-join candidates
# on host, and decide longest-prefix/allow-on-tie with Column algebra over
# the array — no Python boundary, no closure capture, no per-rule plan
# growth. Above ROBOTS_BROADCAST_MAX_RULES the join falls back to a shuffled
# hash/sort-merge join on host (AQE), which is exactly the right shape when
# the policies table itself is too big to broadcast.

#: above this many total rules the policies side is no longer broadcast —
#: ~1e6 rules ≈ tens of MB serialized; past that let AQE pick a shuffled join
ROBOTS_BROADCAST_MAX_RULES = 1_000_000


def rules_array_df(policies: DataFrame) -> DataFrame:
    """Policies table -> one row per host: (host, robots_rules) where
    robots_rules is array<struct<l:int,a:int,p:string>> (prefix length,
    allow flag, prefix). The struct field ORDER is the decision order:
    ``array_max`` over matched elements picks max prefix length first, then
    allow (a=1) over disallow (a=0) — i.e. longest-prefix wins, ties prefer
    allow, the exact oracle.robots_disallowed semantics."""
    return (
        policies.filter(F.col("rule").isin("allow", "disallow"))
        .select(
            F.lower(F.col("host")).alias("host"),
            F.struct(
                F.length("path_prefix").cast("int").alias("l"),
                (F.col("rule") == "allow").cast("int").alias("a"),
                F.col("path_prefix").alias("p"),
            ).alias("r"),
        )
        .groupBy("host")
        .agg(F.collect_list("r").alias("robots_rules"))
    )


#: schema of the per-host rule-array table (rules_array_df output)
RULES_ARRAY_SCHEMA = "host string, robots_rules array<struct<l:int,a:int,p:string>>"


def rules_array_from_list(spark, rules_by_host: dict) -> DataFrame:
    """The per-host array table built directly from a
    {host: [(rule, prefix), ...]} dict (the oracle's rules shape) —
    arrays assembled driver-side (the dict is already local), so this is a
    local Arrow table (session.local_frame) with NO job; element order
    within an array is irrelevant to the array_max decision."""
    rows = [
        (
            host.lower(),
            [(len(p), int(rule == "allow"), p) for rule, p in rules],
        )
        for host, rules in rules_by_host.items()
    ]
    return local_frame(spark, rows, RULES_ARRAY_SCHEMA)


def with_robots_decision(
    cand: DataFrame,
    rules_df: DataFrame,
    url_col: str = "url",
    broadcast: bool = True,
    out_col: str = "disallowed",
) -> DataFrame:
    """Annotate every row with the join-carried robots decision.

    One left join on host (broadcast when ``broadcast``) + pure Column
    algebra: materialize the URL path once (no CSE inside HOF lambdas —
    measured), filter the host's rule array to matching prefixes, take
    ``array_max`` (longest prefix, allow on tie), flag the row when the
    winner is a disallow. Hosts absent from ``rules_df`` (null array) and
    candidates matching no prefix fall through as allowed, like the oracle.

    Host identity is lower(parse_url HOST), path coalesces '' -> '/' —
    the semantics of oracle.robots_disallowed, which property tests hold
    this matcher to over generated per-host rule sets.
    """
    host = F.lower(F.parse_url(F.col(url_col), F.lit("HOST")))
    p = F.parse_url(F.col(url_col), F.lit("PATH"))
    path = F.when(p.isNull() | (p == ""), F.lit("/")).otherwise(p)
    right = rules_df.withColumnRenamed("host", "__rhost")
    if broadcast:
        right = F.broadcast(right)
    joined = (
        cand.withColumn("__rhost", host)
        .withColumn("__rpath", path)
        .join(right, "__rhost", "left")
    )
    matched = F.filter(
        F.col("robots_rules"), lambda r: F.col("__rpath").startswith(r["p"])
    )
    best = F.array_max(matched)
    # single reference to `best` (no CSE in Catalyst: a second reference
    # would re-run array_max(filter(...)) per row): null best (no host row
    # or no matching prefix) coalesces to allowed
    disallowed = F.coalesce(best["a"] == F.lit(0), F.lit(False))
    return joined.withColumn(out_col, disallowed).drop(
        "__rhost", "__rpath", "robots_rules"
    )


def enforce_robots_join(
    cand: DataFrame,
    rules_df: DataFrame,
    url_col: str = "url",
    broadcast: bool = True,
) -> DataFrame:
    """Drop disallowed candidate rows (`with_robots_decision` + filter) —
    the frontier's S6 robots filter."""
    return (
        with_robots_decision(
            cand, rules_df, url_col=url_col, broadcast=broadcast, out_col="__rdeny"
        )
        .filter(~F.col("__rdeny"))
        .drop("__rdeny")
    )
