"""Seeded synthetic inputs, generated twice: as Spark SQL (the program's
input) and as plain Python (the independent reference's input).

Both sides evaluate the same integer arithmetic, so a seed fixes every URL,
link and href exactly; the Python side never reads anything the program
produced.

Each workload's link topology is fixed; the seed relabels it. A seed picks
the permutation that numbers the pages (and with it their hosts), the href
spellings and the titles, so every URL string, hash partition and host
bucket changes from seed to seed while the number of waves stays put: the
tail of near-empty waves varies by several waves between random
topologies, and each wave costs a fixed ~0.4 s.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

HOSTS = 1000          # crawl graphs: quadratic host skew over this many hosts
SEED_STRIDE = 35      # frontier_waves: one seed per this many pages


def _coprime(rng: random.Random, lo: int, hi: int, mod: int) -> int:
    """A draw from [lo, hi) sharing no factor with `mod`, so that
    `(x * i + c) % mod` visits every residue as i varies."""
    while True:
        x = rng.randrange(lo, hi)
        if math.gcd(x, mod) == 1:
            return x


P31 = (1 << 31) - 1  # prime modulus of the mixer
KNUTH = 2654435761   # prime multiplicative-hash constant


class Mixer:
    """x -> ((y*y + c) mod p) with y = (a*x + b) mod p: a nonlinear
    scramble of a non-negative id below 2^31, with every intermediate below
    2^63 so Spark's ANSI long arithmetic cannot overflow. A linear hop
    (a*x + c) mod m with a random `a` collapses onto a subgroup whenever
    gcd(a, m) > 1; this one does not."""

    def __init__(self, rng: random.Random):
        self.a = rng.randrange(1 << 20, P31)
        self.b = rng.randrange(P31)
        self.c = rng.randrange(P31)

    def py(self, x: int) -> int:
        y = (self.a * x + self.b) % P31
        return (y * y + self.c) % P31

    def sql(self, x: str) -> str:
        y = f"pmod(({x}) * {self.a} + {self.b}, {P31})"
        return f"pmod({y} * {y} + {self.c}, {P31})"


@dataclass(frozen=True)
class Region:
    """Node ids [base, base+size). A share `p_next`/10 of each node's
    out-links targets region `nxt`; the rest target the fallback region."""

    base: int
    size: int
    nxt: int | None = None
    p_next: int = 0


class LinkGraph:
    """Cyclic link graph over integer node ids with 1-3 out-links per page.

    Link k of node i targets offset (i * KNUTH + k * 1000003 + c) mod size
    in its target region, the hop of bench.bench_corpus_links: the prime
    multipliers scatter targets over the whole region, and from every 35th
    page a 120k-page graph is crawled whole in 10 waves (seed wave included).

    Node i is page number L = label(i), a seeded permutation of [0, n).
    url(i) = http://hHHH.example.com/p/<L> for ids below `new_start`, and
    .../n/<L % 8>/<L> above it (the bucketed path robots rules key on).
    Host = floor(HOSTS * (L/n)^2): low host ids carry most pages
    (quadratic skew)."""

    def __init__(self, topology: str, seed: int, regions: list[Region], fallback: Region,
                 new_start: int):
        rng = random.Random(topology)
        self.regions = regions
        self.fallback = fallback
        self.n = max(r.base + r.size for r in regions)
        self.new_start = new_start
        self.pick = Mixer(rng)   # link (i, k) -> region choice
        self.c = rng.randrange(1 << 20)
        self.d = _coprime(rng, 1, 1 << 20, 3)     # out-degree 1 + (i*d + c) % 3
        lab = random.Random(f"{topology}/{seed}")
        self.la = _coprime(lab, 1 << 20, 1 << 30, self.n)
        self.lb = lab.randrange(self.n)

    # -- Python side ------------------------------------------------------
    def label(self, i: int) -> int:
        return (i * self.la + self.lb) % self.n

    def host(self, i: int) -> int:
        lab = self.label(i)
        return lab * lab * HOSTS // (self.n * self.n)

    def url(self, i: int) -> str:
        h, lab = self.host(i), self.label(i)
        if i >= self.new_start:
            return f"http://h{h:03d}.example.com/n/{lab % 8}/{lab}"
        return f"http://h{h:03d}.example.com/p/{lab}"

    def _region(self, i: int) -> Region:
        for r in self.regions:
            if i < r.base + r.size:
                return r
        raise ValueError(f"node {i} outside the graph")

    def out_links(self, i: int) -> list[int]:
        reg = self._region(i)
        out = []
        for k in range(1 + (i * self.d + self.c) % 3):
            if reg.nxt is not None and self.pick.py(4 * i + k) % 10 < reg.p_next:
                tgt = self.regions[reg.nxt]
            else:
                tgt = self.fallback
            out.append(tgt.base + (i * KNUTH + k * 1000003 + self.c) % tgt.size)
        return out

    # -- Spark side -------------------------------------------------------
    def _url_sql(self, i: str, lab: str) -> str:
        """URL of node `i` whose label column is `lab`."""
        host = f"{lab} * {lab} * {HOSTS} div {self.n * self.n}"
        return (
            f"format_string('http://h%03d.example.com/%s', {host}, "
            f"CASE WHEN {i} >= {self.new_start} THEN format_string('n/%d/%d', pmod({lab}, 8), {lab}) "
            f"ELSE format_string('p/%d', {lab}) END)"
        )

    def _label_sql(self, i: str) -> str:
        return f"pmod({i} * {self.la} + {self.lb}, {self.n})"

    def _target_sql(self, reg: Region) -> str:
        hop = f"(i * {KNUTH} + k * 1000003 + {self.c})"
        fb = f"{self.fallback.base} + pmod({hop}, {self.fallback.size})"
        if reg.nxt is None:
            return fb
        nx = self.regions[reg.nxt]
        return (
            f"CASE WHEN pmod({self.pick.sql('4 * i + k')}, 10) < {reg.p_next} "
            f"THEN {nx.base} + pmod({hop}, {nx.size}) ELSE {fb} END"
        )

    def links_df(self, spark, lo: int = 0, hi: int | None = None):
        """(src, idx, dst) for the out-links of nodes [lo, hi)."""
        hi = self.n if hi is None else hi
        cases = " ".join(
            f"WHEN i < {r.base + r.size} THEN {self._target_sql(r)}" for r in self.regions
        )
        # staged projections keep each generated expression small: one
        # flattened expression for the whole URL pair compiles for seconds
        return (
            spark.range(lo, hi)
            .selectExpr("id AS i", f"explode(sequence(0, pmod(id * {self.d} + {self.c}, 3))) AS k")
            .selectExpr("i", "k", f"CASE {cases} END AS j")
            .selectExpr("i", "k", "j", f"{self._label_sql('i')} AS li", f"{self._label_sql('j')} AS lj")
            .selectExpr(
                f"{self._url_sql('i', 'li')} AS src", "CAST(k AS INT) AS idx",
                f"{self._url_sql('j', 'lj')} AS dst",
            )
        )

    def urls_df(self, spark, lo: int, hi: int):
        """(i, url) for nodes [lo, hi)."""
        return spark.range(lo, hi).selectExpr("id AS i", f"{self._label_sql('id')} AS li").selectExpr(
            "i", f"{self._url_sql('i', 'li')} AS url"
        )

    def seeds_df(self, spark, stride: int):
        """(url, seed_idx) for every `stride`-th node."""
        return spark.range(0, self.n, stride).selectExpr(
            "id AS i", f"{self._label_sql('id')} AS li"
        ).selectExpr(f"{self._url_sql('i', 'li')} AS url", f"i div {stride} AS seed_idx")


def bfs_levels(graph: LinkGraph, frontier: set[int], seen: set[int], allowed=None) -> list[dict]:
    """Wave-synchronous reference crawl. Per wave: the distinct out-link
    targets of the frontier (`candidates`, after the robots predicate),
    the targets the predicate refused (`blocked`) and the unseen ones
    (`enqueued`), which become the next frontier. Mutates `seen`."""
    levels = []
    while True:
        targets = {t for u in frontier for t in graph.out_links(u)}
        blocked = {t for t in targets if allowed is not None and not allowed(t)}
        cand = targets - blocked
        fresh = cand - seen
        levels.append(
            {"candidates": len(cand), "blocked": len(blocked), "enqueued": len(fresh)}
        )
        if not fresh:
            return levels
        seen |= fresh
        frontier = fresh


# ---------------------------------------------------------------------------
# follow_extract: a layered site of span documents with dirty hrefs
# ---------------------------------------------------------------------------

LEVELS = 6        # page layers 0..5; links go layer l -> l+1, plus a home link
SITES = 40
TEXT_SPANS = 8    # non-link spans per page, so extraction has work to skip
SEED_EVERY = 4    # one layer-0 page in this many is a seed
DIRTY_FORMS = 8   # href variants; forms 0 and 1 are clean, 2..7 dirty


class SiteGraph:
    """Pages d in [0, n): layer(d) = d % LEVELS, q = d // LEVELS.
    Link 0 of every page goes to its home (a seed page, always already
    enqueued); pages below the last layer add 1-4 links k = 1.. into the
    next layer. The page's URL carries its label, a seeded permutation of
    [0, n). Href form (d, k) picks one of DIRTY_FORMS spellings of the
    target; every spelling canonicalizes to the target's doc_id."""

    def __init__(self, seed: int, n: int):
        rng = random.Random("follow_extract")
        self.seed = seed
        self.n = n
        self.hop = Mixer(rng)    # link (q, k) -> child index in the next layer
        self.c = rng.randrange(1 << 20)
        self.d = _coprime(rng, 1, 1 << 20, 4)     # 1 + (q*d + c) % 4 children
        lab = random.Random(f"follow_extract/{seed}")
        self.la = _coprime(lab, 1 << 20, 1 << 30, n)
        self.lb = lab.randrange(n)
        self.f1 = _coprime(lab, 1, 1 << 16, DIRTY_FORMS)
        self.f2 = _coprime(lab, 1, 1 << 16, DIRTY_FORMS)
        self.s = lab.randrange(SITES)

    # -- Python side ------------------------------------------------------
    def host(self, d: int) -> str:
        return f"s{((d // LEVELS) * 7 + self.s) % SITES:02d}.example.com"

    def _path_query(self, d: int, *, sorted_query: bool = True) -> tuple[str, str]:
        lab = (d * self.la + self.lb) % self.n
        path = f"/l{d % LEVELS}/p{lab}"
        if lab % 5:
            return path, ""
        a = lab % 7
        return path, (f"?a={a}&b=1" if sorted_query else f"?b=1&a={a}")

    def url(self, d: int) -> str:
        path, query = self._path_query(d)
        return f"http://{self.host(d)}{path}{query}"

    def title(self, d: int) -> str:
        return f"T{self.seed}.{d}"

    def home(self, d: int) -> int:
        return (d // LEVELS // SEED_EVERY) * SEED_EVERY * LEVELS

    def _layer_size(self, layer: int) -> int:
        return (self.n - 1 - layer) // LEVELS + 1

    def out_links(self, d: int) -> list[int]:
        layer, q = d % LEVELS, d // LEVELS
        out = [self.home(d)]
        if layer < LEVELS - 1:
            m_next = self._layer_size(layer + 1)
            for k in range(1, 2 + (q * self.d + self.c) % 4):
                out.append((self.hop.py(8 * q + k) % m_next) * LEVELS + layer + 1)
        return out

    def form(self, d: int, k: int) -> int:
        return ((d // LEVELS) * self.f1 + k * self.f2 + self.c) % DIRTY_FORMS

    def href(self, t: int, form: int) -> str:
        host = self.host(t)
        path, query = self._path_query(t)
        if form == 2:
            return f"HTTP://{host}{path}{query}"
        if form == 3:
            return f"http://{host.upper()}{path}{query}"
        if form == 4:
            return f"http://{host}:80{path}{query}"
        if form == 5:
            return f"http://{host}/x/..{path}{query}"
        if form == 6:
            return f"//{host}/.{path}{query}"
        if form == 7:
            return f"http://{host}{path}{self._path_query(t, sorted_query=False)[1]}#f"
        return f"http://{host}{path}{query}"

    def seed_ids(self) -> list[int]:
        return list(range(0, self.n, LEVELS * SEED_EVERY))

    # -- Spark side -------------------------------------------------------
    def _host_sql(self, d: str) -> str:
        return f"format_string('s%02d.example.com', pmod(({d} div {LEVELS}) * 7 + {self.s}, {SITES}))"

    def _label_sql(self, d: str) -> str:
        return f"pmod(({d}) * {self.la} + {self.lb}, {self.n})"

    def _path_sql(self, d: str) -> str:
        return f"format_string('/l%d/p%d', pmod({d}, {LEVELS}), {self._label_sql(d)})"

    def _query_sql(self, d: str, sorted_query: bool = True) -> str:
        fmt = "?a=%d&b=1" if sorted_query else "?b=1&a=%d"
        lab = self._label_sql(d)
        return f"CASE WHEN pmod({lab}, 5) = 0 THEN format_string('{fmt}', pmod({lab}, 7)) ELSE '' END"

    def url_sql(self, d: str) -> str:
        return f"concat('http://', {self._host_sql(d)}, {self._path_sql(d)}, {self._query_sql(d)})"

    def _href_sql(self, t: str, form: str) -> str:
        host, path, query = self._host_sql(t), self._path_sql(t), self._query_sql(t)
        unsorted = self._query_sql(t, sorted_query=False)
        return (
            f"CASE {form} "
            f"WHEN 2 THEN concat('HTTP://', {host}, {path}, {query}) "
            f"WHEN 3 THEN concat('http://', upper({host}), {path}, {query}) "
            f"WHEN 4 THEN concat('http://', {host}, ':80', {path}, {query}) "
            f"WHEN 5 THEN concat('http://', {host}, '/x/..', {path}, {query}) "
            f"WHEN 6 THEN concat('//', {host}, '/.', {path}, {query}) "
            f"WHEN 7 THEN concat('http://', {host}, {path}, {unsorted}, '#f') "
            f"ELSE concat('http://', {host}, {path}, {query}) END"
        )

    def _form_sql(self, k: str) -> str:
        return f"pmod((d div {LEVELS}) * {self.f1} + {k} * {self.f2} + {self.c}, {DIRTY_FORMS})"

    def docs_df(self, spark):
        """The interleaved-spans documents table (schemas.DOCUMENTS)."""
        from xidel_spark.schemas import DOCUMENTS

        home = f"(d div {LEVELS * SEED_EVERY}) * {SEED_EVERY * LEVELS}"
        m_next = f"(({self.n} - 2 - pmod(d, {LEVELS})) div {LEVELS} + 1)"
        child = (
            f"(pmod({self.hop.sql(f'8 * (d div {LEVELS}) + k')}, {m_next})"
            f" * {LEVELS} + pmod(d, {LEVELS}) + 1)"
        )
        # children k = 1..n_child; the last layer has none
        n_child = (
            f"CASE WHEN pmod(d, {LEVELS}) < {LEVELS - 1} "
            f"THEN 1 + pmod((d div {LEVELS}) * {self.d} + {self.c}, 4) ELSE 0 END"
        )
        spans = (
            "concat("
            f"array(named_struct('kind', 'title', 'text', format_string('T%d.%d', {self.seed}, d), "
            "'media_ref', CAST(NULL AS STRING), 'offset', 0), "
            f"named_struct('kind', 'link', 'text', 'home', 'media_ref', "
            f"{self._href_sql(home, self._form_sql('0'))}, 'offset', 1)), "
            f"transform(filter(sequence(1, 4), k -> k <= {n_child}), k -> named_struct('kind', 'link', "
            f"'text', format_string('c%d', k), 'media_ref', {self._href_sql(child, self._form_sql('k'))}, "
            "'offset', 2 * k + 1)), "
            f"transform(sequence(0, {TEXT_SPANS - 1}), j -> named_struct('kind', 'text', "
            "'text', format_string('paragraph %d of page %d', j, d), "
            "'media_ref', CAST(NULL AS STRING), 'offset', 2 * j + 2)), "
            "array(named_struct('kind', 'image', 'text', 'img', "
            "'media_ref', format_string('http://img.example.com/%d.png', d), 'offset', 99)))"
        )
        df = spark.range(self.n).selectExpr("id AS d").selectExpr(
            f"{self.url_sql('d')} AS doc_id",
            f"{spans} AS spans",
            f"{self.url_sql('d')} AS base_uri",
            "'text/html' AS content_type",
            "map('status', '200') AS headers",
            "'html' AS input_format",
        )
        return df.select(*[df[f.name].cast(f.dataType).alias(f.name) for f in DOCUMENTS.fields])

    def seeds_df(self, spark):
        step = LEVELS * SEED_EVERY
        return spark.range(0, self.n, step).selectExpr(
            f"{self.url_sql('id')} AS url", f"id div {step} AS seed_idx"
        )
