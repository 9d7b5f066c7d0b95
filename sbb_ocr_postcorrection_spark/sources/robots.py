"""robots.txt rule parsing + URL gating, from scratch (RFC 9309).

The crawl-policy companion to the URL blocklist: every polite crawl
pipeline must honor per-host robots rules before fetching — and a corpus
builder re-checks them before TRAINING on a page (pages fetched before a
policy change, or by an impolite upstream crawler, get filtered here).

Parser semantics (RFC 9309):
* groups are selected by User-agent line; the group for the SPECIFIC
  agent wins over the '*' group; multiple headers stack onto one group;
* rules are `Allow:`/`Disallow:` path patterns with `*` (any run) and a
  trailing `$` (end anchor); an EMPTY Disallow value means allow-all;
* matching is longest-pattern-wins (pattern LENGTH, not match length),
  Allow winning ties; no matching rule → allowed. No robots.txt at all →
  allowed (the RFC default for 404).

Single-node functions are Spark-free (the kernel.py convention); the
Spark gate joins pages to their host's robots text by equality and
evaluates rules in an Arrow kernel with a per-text parse cache — one
parse per distinct robots.txt per batch, not per row.
"""

from __future__ import annotations


DEFAULT_CRAWL_DELAY_S = 1


def _parse_groups(txt: str) -> dict:
    """One line walk → {agent: {"rules": [(is_allow, pattern)],
    "delay": int|None}} — the shared backend of parse_robots (gating) and
    crawl_delay (scheduling), so key normalization (case, whitespace) and
    group stacking can never differ between the two consumers."""
    groups: dict[str, dict] = {}
    current_agents: list[str] = []
    rules_started = False
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if rules_started:
                current_agents = []
                rules_started = False
            current_agents.append(val.lower())
            for a in current_agents:
                groups.setdefault(a, {"rules": [], "delay": None})
        elif key in ("allow", "disallow"):
            rules_started = True
            if key == "disallow" and val == "":
                continue  # empty Disallow = allow everything (no rule)
            for a in current_agents:
                groups.setdefault(a, {"rules": [], "delay": None})["rules"].append(
                    (key == "allow", val)
                )
        elif key == "crawl-delay":
            rules_started = True
            try:
                delay = int(val)
            except ValueError:
                continue  # malformed delay line is ignored, not fatal
            for a in current_agents:
                groups.setdefault(a, {"rules": [], "delay": None})["delay"] = delay
        # other keys (sitemap, ...) are ignored
    return groups


def _group_for(groups: dict, agent: str) -> dict:
    return groups.get(
        agent.lower(), groups.get("*", {"rules": [], "delay": None})
    )


def parse_robots(txt: str, agent: str = "*") -> list[tuple[bool, str]]:
    """robots.txt → [(is_allow, pattern)] for the best-matching group.

    Group selection: prefer the group whose agent token equals ``agent``
    (case-insensitive), else the '*' group, else no rules. Lines stack:
    consecutive User-agent lines share the rule block that follows."""
    return _group_for(_parse_groups(txt), agent)["rules"]


def crawl_delay(txt: str, agent: str = "*") -> int:
    """The agent's group's Crawl-delay in seconds — parsed with the SAME
    group-aware, case/whitespace-normalized line walk as the rules (a
    bare regex missed 'crawl-delay:10' spellings and read OTHER agents'
    delays — review-confirmed politeness violations). Absent/malformed →
    ``DEFAULT_CRAWL_DELAY_S``; clamped to ≥1 so a 'Crawl-delay: 0' line can never
    collapse a host's schedule into simultaneous fetches."""
    d = _group_for(_parse_groups(txt), agent)["delay"]
    return max(d if d is not None else DEFAULT_CRAWL_DELAY_S, 1)


def _glob_match(pattern: str, s: str) -> bool:
    """Full match of an RFC 9309 pattern body against s: '*' = any run,
    everything else literal. ITERATIVE two-pointer star-backtracking glob
    — O(len(s)·stars) worst case and never exponential. robots.txt is
    UNTRUSTED remote content; '*a'×25-style patterns sent a backtracking
    regex into effectively-infinite time (review-confirmed hang), the
    exact failure class the repo's ReDoS rules ban for crawl text."""
    i = j = 0
    star = -1
    si = 0
    n, m = len(s), len(pattern)
    while i < n:
        if j < m and pattern[j] == "*":
            star, si, j = j, i, j + 1
        elif j < m and pattern[j] == s[i]:
            i += 1
            j += 1
        elif star != -1:
            si += 1
            i = si
            j = star + 1
        else:
            return False
    while j < m and pattern[j] == "*":
        j += 1
    return j == m


def _match(pattern: str, path: str) -> bool:
    """RFC match: a trailing '$' anchors the end; otherwise the pattern
    matches any PREFIX of the path — expressed as pattern+'*' run through
    the full matcher so there is exactly one matching routine."""
    if pattern.endswith("$"):
        return _glob_match(pattern[:-1], path)
    return _glob_match(pattern + "*", path)


def robots_allowed(rules: list[tuple[bool, str]], path: str) -> bool:
    """Longest-pattern-wins verdict; Allow wins ties; no match → allowed."""
    if not path.startswith("/"):
        path = "/" + path
    best_len = -1
    best_allow = True
    for is_allow, pattern in rules:
        if _match(pattern, path):
            plen = len(pattern)
            if plen > best_len or (plen == best_len and is_allow):
                best_len = plen
                best_allow = is_allow
    return best_allow


# deterministic fixture robots per synth host (interpolated semantics are
# mirrored by the DuckDB oracle as a closed-form CASE): odd-k hosts
# disallow the /p/1 prefix but re-allow /p/12 via a longer rule — the
# longest-match + prefix semantics are what the oracle certifies; the
# full RFC matcher (wildcards, anchors, group selection) is pytest-pinned.
def synth_robots_txt(k: int) -> str:
    delay = f"Crawl-delay: {1 + k % 3}\n"
    if k % 2 == 1:
        return f"User-agent: *\nDisallow: /p/1\nAllow: /p/12\n{delay}"
    return f"User-agent: *\nDisallow:\n{delay}"


def robots_gate(spark, sf_dir, robots=None, docs=None, agent: str = "*"):
    """Per-page robots verdict: (doc_id, host, path, robots_allowed).

    ``robots`` is a (host, robots_txt) relation; the fixture default
    synthesizes one per synth host. Pages join their host's rules by
    EQUALITY (the robots dimension is hosts-sized — broadcast at fixture
    scale, an ordinary hash join at web scale); a LEFT join keeps pages
    of robots-less hosts with the RFC default verdict (allowed). Rule
    evaluation runs in an Arrow kernel with a parse cache keyed on the
    robots text — one parse per distinct policy per batch."""
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql import functions as F

    from ..operators.relational import load
    from ..operators.urls import _host_path_suffixes, synth_url_expr

    d = docs if docs is not None else load(spark, sf_dir, "documents")
    if "url" not in d.columns:
        d = d.select("doc_id", synth_url_expr(F.col("doc_id")).alias("url"))
    # the POLICY host (shared _host_path_suffixes law): userinfo, port and
    # trailing dots stripped — 'a.test:8080' spellings must find a.test's
    # policy, not silently miss the join and default to allowed (the same
    # bypass class the blocklist gate normalizes away)
    host, path, _ = _host_path_suffixes(F.col("url"))
    base = d.select("doc_id", host.alias("host"), path.alias("path"))
    if robots is None:
        robots = spark.createDataFrame(
            [(f"site{k}.example.com", synth_robots_txt(k)) for k in range(7)],
            "host string, robots_txt string",
        )
    joined = base.join(robots, "host", "left")

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cache: dict[str, list] = {}
            verdicts: list[int] = []
            for txt, p in zip(pdf["robots_txt"], pdf["path"]):
                if txt is None or isinstance(txt, float):  # None / pandas NaN
                    verdicts.append(1)  # no robots.txt → allowed (RFC 404 default)
                    continue
                rules = cache.get(txt)
                if rules is None:
                    rules = cache[txt] = parse_robots(txt, agent)
                verdicts.append(1 if robots_allowed(rules, p) else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "host": pdf["host"],
                    "path": pdf["path"],
                    "robots_allowed": verdicts,
                }
            )

    return joined.mapInPandas(
        kern,
        schema="doc_id long, host string, path string, robots_allowed int",
    )


# the ONE Crawl-delay extraction pattern — shared by the Spark plan and
# (verbatim) the DuckDB oracle; seconds, first match wins, default 1
def crawl_schedule(spark, sf_dir, robots=None, docs=None, agent: str = "*"):
    """Politeness scheduler: per-host sequential fetch slots honoring each
    host's robots Crawl-delay — the planning step between URL gating and
    fetching in a continuous crawl. Every page gets (slot, delay_s,
    fetch_offset_s): slot = its position within its host's queue
    (deterministic doc_id order), offset = slot × the host's delay, so
    hosts are fetched in parallel while each host sees at most one
    request per delay window.

    The delay comes from crawl_delay() — the REAL group-aware parser, not
    a regex (lowercase/no-space spellings and other agents' groups were
    review-confirmed misreads) — evaluated by an Arrow UDF over the TINY
    robots dimension BEFORE the join, so the per-host parse runs |hosts|
    times and only an int rides the page-side shuffle; clamped ≥1 so
    'Crawl-delay: 0' cannot collapse a host's schedule into simultaneous
    fetches. The slot is a row_number window partitioned BY HOST — every
    partition-level window is parallel and bounded by the host's page
    count (a mega-host's serialization is the real politeness constraint,
    not a plan artifact). One shuffle on host, one tiny policy join."""
    import pandas as pd

    from pyspark.sql import Window, functions as F
    from pyspark.sql.functions import pandas_udf

    from ..operators.relational import load
    from ..operators.urls import _host_path_suffixes, synth_url_expr

    d = docs if docs is not None else load(spark, sf_dir, "documents")
    if "url" not in d.columns:
        d = d.select("doc_id", synth_url_expr(F.col("doc_id")).alias("url"))
    host, _path, _sfx = _host_path_suffixes(F.col("url"))
    base = d.select("doc_id", host.alias("host"))
    if robots is None:
        robots = spark.createDataFrame(
            [(f"site{k}.example.com", synth_robots_txt(k)) for k in range(7)],
            "host string, robots_txt string",
        )

    def _delay_of(txt):
        cache = {}

        def one(t):
            if t is None:
                return DEFAULT_CRAWL_DELAY_S
            v = cache.get(t)
            if v is None:
                v = cache[t] = crawl_delay(t, agent)
            return v

        return txt.map(one).astype("int32")

    # non-decorator scalar form: `from __future__ import annotations`
    # stringifies type hints, which the decorator's hint inference rejects
    delay_of = pandas_udf(_delay_of, "int")

    policy = robots.select(
        "host", delay_of(F.col("robots_txt")).alias("delay_s")
    )
    w = Window.partitionBy("host").orderBy("doc_id")
    return (
        base.join(policy, "host", "left")
        .select(
            "doc_id", "host",
            F.coalesce(F.col("delay_s"), F.lit(DEFAULT_CRAWL_DELAY_S)).alias(
                "delay_s"
            ),
        )
        .withColumn("slot", (F.row_number().over(w) - 1).cast("int"))
        .select(
            "doc_id",
            "host",
            "slot",
            "delay_s",
            (F.col("slot").cast("long") * F.col("delay_s")).alias(
                "fetch_offset_s"
            ),
        )
    )


COMPLY_PURGE_PCT = 20.0  # above this disallowed share: purge + recrawl


def robots_compliance(spark, sf_dir, robots=None, docs=None):
    """Per-host robots compliance audit: how much of the ALREADY-CRAWLED
    corpus today's policies disallow — (host, n_urls, n_disallowed,
    disallowed_pct, action). Policies change after content is fetched;
    a takedown-compliant pipeline re-audits the corpus against current
    robots.txt and purges what is now disallowed (the gate screens new
    fetches; this screens the archive). Actions: 'compliant' (0 %),
    'purge' (some), 'purge_and_recrawl' (> COMPLY_PURGE_PCT % — the
    policy likely restructured, the host needs a fresh discovery pass).

    One rollup over the robots_gate verdict relation — map-side
    combinable on the host key; the tier ladder compares round-6 pcts,
    identical in both engines."""
    from pyspark.sql import functions as F

    v = robots_gate(spark, sf_dir, robots=robots, docs=docs)
    agg = v.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum(1 - F.col("robots_allowed")).cast("long").alias("n_disallowed"),
    )
    pct = F.round(F.col("n_disallowed") * 100.0 / F.col("n_urls"), 6)
    action = (
        F.when(pct > COMPLY_PURGE_PCT, "purge_and_recrawl")
        .when(pct > 0.0, "purge")
        .otherwise("compliant")
    )
    return agg.select(
        "host",
        "n_urls",
        "n_disallowed",
        pct.alias("disallowed_pct"),
        action.alias("action"),
    )
