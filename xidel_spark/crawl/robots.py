"""robots.txt rule enforcement as a broadcast-joined rule table.

The reference has no robots support (verified in SURVEY.md §2.4); the north
rule adds it as an extra candidate filter. Semantics follow the de-facto
standard: per (host, path-prefix) rules, the LONGEST matching prefix wins;
no matching rule means allowed.

Scale shape: the rule table is small relative to the frontier → broadcast
hash join (no shuffle of the candidate side); the longest-prefix selection
is a window over the few matched rules per URL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..urlnorm import host_of


def parse_robots_txt(host: str, text: str, agent: str = "*") -> list[tuple[str, str, bool]]:
    """robots.txt → (host, prefix, allow) rows for the rule table.
    Groups by User-agent; rules from the matching group (exact agent wins
    over '*'); empty Disallow means allow-all. Longest-prefix precedence is
    applied at query time (apply_robots)."""
    groups: dict[str, list[tuple[str, bool]]] = {}
    current: list[str] = []
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            current = [val.lower()]
            groups.setdefault(val.lower(), [])
        elif key in ("disallow", "allow") and current:
            for g in current:
                if val:
                    groups[g].append((val, key == "allow"))
                # 'Disallow:' (empty) = allow everything → no rule needed
    chosen = groups.get(agent.lower(), groups.get("*", []))
    # default-allow uses the EMPTY prefix (length 0) so any real rule —
    # including an explicit 'Disallow: /' — outranks it deterministically
    rules = [(host, "", True)]
    rules += [(host, prefix, allow) for prefix, allow in chosen]
    return rules


def path_of(url_col):
    """The url's path, '/' when it has none (RFC 9309 §2.2.2). The
    authority ends at the first '/', '?' or '#', as in host_of."""
    path = F.regexp_extract(url_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)?", 1)
    return F.when(path == "", "/").otherwise(path)


def apply_robots(candidates: DataFrame, rules: DataFrame, url_col: str = "url") -> DataFrame:
    """Flag candidate URLs through a (host, prefix, allow) rule table.

    Returns the candidates' columns plus an `allowed` flag, one row per
    url; crawl integration drops `allowed = false` rows before the fetch
    stage (dedup-before-fetch and robots-before-fetch both cut network
    cost, xidelbase.pas:1484-1491 analog). The window is partitioned by
    url, so candidates already hash-partitioned on it need no exchange.
    """
    cols = candidates.columns
    url = F.col(url_col)
    cand = candidates.withColumn("__host", host_of(url)).withColumn("__path", path_of(url))
    rules = rules.select(
        F.col("host").alias("__rhost"), F.col("prefix").alias("__prefix"), F.col("allow").alias("__allow")
    )
    matched = cand.join(
        F.broadcast(rules),
        (F.col("__host") == F.col("__rhost")) & F.col("__path").startswith(F.col("__prefix")),
        "left",
    )
    # longest prefix wins; equal lengths tie-break to allow (the de-facto
    # standard: least-restrictive rule wins ties) — fully deterministic
    w = Window.partitionBy(url_col).orderBy(
        F.length(F.col("__prefix")).desc(), F.col("__allow").desc()
    )
    return (
        matched.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(*cols, F.coalesce(F.col("__allow"), F.lit(True)).alias("allowed"))
    )
