"""Property-based tests (hypothesis; SURVEY §5 strategy (c) extended):
engine expressions checked against independent pure-Python models on
generated inputs. Each example builds one small DataFrame — examples are
capped to keep Spark-job count sane."""

import hashlib
import re

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from giraph_spark.functions.dedup import normalize_text, portable_hash60
from giraph_spark.functions.text import token_count

TEXT = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Po", "Zs"),
        max_codepoint=0x2FF,  # latin + latin-1 supplement/extended
    ),
    max_size=80,
)
SETTINGS = dict(max_examples=3, deadline=None, print_blob=True)


def _py_normalize(s: str) -> str:
    s = s.lower()
    s = re.sub(r"[^a-z0-9\s]", " ", s)
    s = re.sub(r"\s+", " ", s)
    return s.strip()


@given(st.lists(TEXT, min_size=1, max_size=30))
@settings(**SETTINGS)
def test_portable_hash60_matches_python_md5(spark, texts):
    """Spark's conv(substr(md5,1,15),16,10) == int(md5[:15], 16) — the
    exact contract the DuckDB oracles rely on."""
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [
        r["h"]
        for r in df.select(portable_hash60(F.col("t")).alias("h")).collect()
    ]
    want = [
        int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        for t in texts
    ]
    assert got == want


@given(st.lists(TEXT, min_size=1, max_size=30))
@settings(**SETTINGS)
def test_normalize_text_idempotent_and_matches_model(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    out = df.select(
        normalize_text(F.col("t")).alias("n1"),
        normalize_text(normalize_text(F.col("t"))).alias("n2"),
    ).collect()
    for t, r in zip(texts, out):
        assert r["n1"] == _py_normalize(t)
        assert r["n2"] == r["n1"]  # idempotent


# ASCII-only: Java's \s (Spark split) is ASCII, Python's str.split() is
# Unicode-aware — the operator contract is the Java one.
ASCII_TEXT = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
    max_size=80,
)


@given(st.lists(ASCII_TEXT, min_size=1, max_size=30))
@settings(**SETTINGS)
def test_token_count_matches_python_split(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [
        r["c"] for r in df.select(token_count(F.col("t")).alias("c")).collect()
    ]
    want = [len(t.split()) for t in texts]
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),   # user
            st.integers(min_value=0, max_value=120), # minutes offset
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_funnel_matches_python_model(spark, rows):
    """funnel() per-user sequential-min semantics vs a pure-Python scan."""
    from datetime import datetime, timedelta

    from giraph_spark.functions.joins import funnel

    base = datetime(2024, 1, 1)
    data = [
        (u, base + timedelta(minutes=m), t) for u, m, t in rows
    ]
    ev = spark.createDataFrame(
        data, "user_id long, ts timestamp, event_type string"
    )
    steps = ["view", "click", "purchase"]
    got = {
        r["user_id"]: (r["t0"], r["t1"], r["t2"])
        for r in funnel(ev, steps, within="1 hour").collect()
    }

    # model: earliest step0; then earliest step-k event >= prev and within 1h
    model = {}
    for u in {d[0] for d in data}:
        evs = [(ts, t) for (uu, ts, t) in data if uu == u]
        t0 = min((ts for ts, t in evs if t == "view"), default=None)
        if t0 is None:
            continue
        prev, out = t0, [t0]
        for s in steps[1:]:
            cand = [
                ts
                for ts, t in evs
                if t == s and prev is not None
                and ts >= prev and ts <= prev + timedelta(hours=1)
            ]
            prev = min(cand) if cand else None
            out.append(prev)
        model[u] = tuple(out)
    assert got == model


@given(
    st.lists(
        st.sampled_from(
            ["alpha beta gamma delta " * 8, "omega psi chi phi " * 8, "x"]
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_dedup_corpus_invariants(spark, texts):
    """dedup_corpus output is a subset of the input, has no two rows with
    the same normalized text, and keeps the lowest id of each exact group."""
    from giraph_spark.functions.dedup import dedup_corpus

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = dedup_corpus(df, near=False).collect()
    ids = [r["doc_id"] for r in out]
    assert set(ids) <= set(range(len(texts)))
    norm = {}
    for r in out:
        key = _py_normalize(r["text"])
        assert key not in norm, "two survivors share normalized text"
        norm[key] = r["doc_id"]
    # lowest-id survivor per exact group
    for key, kept in norm.items():
        group = [i for i, t in enumerate(texts) if _py_normalize(t) == key]
        assert kept == min(group)


@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_lpa_matches_python_synchronous_model(spark, pairs):
    """Kernel LPA vs an independent pure-Python synchronous simulator on
    generated graphs (incl. self-loop-free multi-edge collapse): same
    fixed-round labels, same (max count, min label) ties."""
    edges = sorted({(a, b) for a, b in pairs if a != b})
    if not edges:
        return
    vids = sorted({v for e in edges for v in e})
    sym = edges + [(b, a) for a, b in edges]

    # python model: 3 synchronous rounds
    labels = {v: v for v in vids}
    for _ in range(3):
        nxt = {}
        for v in vids:
            votes = {}
            for s, d in sym:
                if d == v:
                    votes[labels[s]] = votes.get(labels[s], 0) + 1
            if votes:
                best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
                nxt[v] = best[0]
            else:
                nxt[v] = labels[v]
        labels = nxt

    from giraph_spark.algos.components import label_propagation_communities
    from giraph_spark.graph import Graph

    e = spark.createDataFrame(sym, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in vids], "id long")
    got = {
        r.id: r.community
        for r in label_propagation_communities(Graph(v, e), rounds=3).collect()
    }
    assert got == labels


@given(
    st.lists(
        st.tuples(st.integers(1, 15), TEXT.filter(lambda t: len(t) > 0)),
        min_size=1,
        max_size=10,
        unique_by=lambda x: x[0],
    )
)
@settings(**SETTINGS)
def test_scrub_token_accounting_invariant(spark, docs):
    """n_kept + n_removed == non-empty normalized token count, always."""
    from giraph_spark.functions.sampling import scrub_duplicate_ngrams

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = scrub_duplicate_ngrams(df, n=3).collect()
    toks = {
        i: len([w for w in _py_normalize(t).split(" ") if w])
        for i, t in docs
    }
    for r in out:
        assert r.n_kept + r.n_removed == toks[r.doc_id], (
            r.doc_id,
            r.n_kept,
            r.n_removed,
            toks[r.doc_id],
        )


EDGE_SET = st.sets(
    st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=24,
)


@given(EDGE_SET, st.randoms(use_true_random=False))
@settings(**SETTINGS)
def test_coloring_proper_and_matching_valid_on_random_graphs(
    spark, edge_set, rnd
):
    """On arbitrary small graphs: the coloring is PROPER (no
    monochromatic edge) and complete; the matching is a valid matching
    (symmetric, degree ≤ 1 in the matched relation) and MAXIMAL (no
    live edge joins two unmatched vertices)."""
    from giraph_spark import Graph
    from giraph_spark.algos.coloring import graph_coloring
    from giraph_spark.algos.matching import max_weight_matching

    sym = {(u, v) for u, v in edge_set} | {(v, u) for u, v in edge_set}
    ids = sorted({x for e in sym for x in e})
    vertices = spark.createDataFrame([(i,) for i in ids], "id long")
    # weights must be SYMMETRIC (the documented matching precondition —
    # direction-dependent weights can cycle u→v→w→u with no mutual pick)
    edges = spark.createDataFrame(
        [
            (u, v, float(1 + (min(u, v) * 7 + max(u, v) * 3) % 5))
            for u, v in sorted(sym)
        ],
        "src long, dst long, weight double",
    )
    g = Graph(vertices, edges)

    color = {r.id: r.color for r in graph_coloring(g).collect()}
    assert set(color) == set(ids) and all(c is not None for c in color.values())
    assert all(color[u] != color[v] for u, v in sym)

    m = {r.id: r.matched_with for r in max_weight_matching(g).collect()}
    matched = {k: v for k, v in m.items() if v is not None}
    assert all(matched.get(v) == u for u, v in matched.items())  # symmetric
    unmatched = {k for k, v in m.items() if v is None}
    assert not any(u in unmatched and v in unmatched for u, v in sym)  # maximal


@given(EDGE_SET)
@settings(**SETTINGS)
def test_msf_matches_kruskal_on_random_graphs(spark, edge_set):
    """Borůvka == Kruskal under the shared (w, u, v) total order on
    arbitrary small graphs (any component structure)."""
    from giraph_spark import Graph
    from giraph_spark.algos.mst import minimum_spanning_forest

    ids = sorted({x for e in edge_set for x in e})
    vertices = spark.createDataFrame([(i,) for i in ids], "id long")
    edges = spark.createDataFrame(
        [(u, v, float(1 + (u * 5 + v) % 4)) for u, v in sorted(edge_set)],
        "src long, dst long, weight double",
    )
    got = {
        (r.u, r.v, r.weight)
        for r in minimum_spanning_forest(Graph(vertices, edges)).collect()
    }
    # python Kruskal on the same canonicalized edges
    canon = {}
    for u, v in edge_set:
        a, b = min(u, v), max(u, v)
        w = float(1 + (u * 5 + v) % 4)
        canon[(a, b)] = min(canon.get((a, b), w), w)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = set()
    for (u, v), w in sorted(canon.items(), key=lambda kv: (kv[1], kv[0])):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            want.add((u, v, w))
    assert got == want


# --------------------------- r10: PSL grammar vs a pure-Python model --

_PSL_LABELS = ["a", "b", "site", "co", "uk", "ck", "com", "au", "xn--p1ai"]
_PSL_HOST = st.lists(
    st.sampled_from(_PSL_LABELS), min_size=1, max_size=5
).map(".".join)
_PSL_RULE = st.one_of(
    st.lists(st.sampled_from(_PSL_LABELS), min_size=1, max_size=3).map(".".join),
    st.lists(st.sampled_from(_PSL_LABELS), min_size=1, max_size=2).map(
        lambda ls: "*." + ".".join(ls)
    ),
    st.lists(st.sampled_from(_PSL_LABELS), min_size=2, max_size=3).map(
        lambda ls: "!" + ".".join(ls)
    ),
)


def _py_psl_model(host: str, feed) -> str | None:
    """Pure-Python mirror of registered_domain_psl's documented
    semantics (exceptions win, then longest exact/wildcard rule, then
    the default keep-last-two; a matched host with no extra label has
    no registrable part — as does a single-label host under the
    implicit '*' default rule, r11; substring_index keeps the whole
    host when it has fewer labels than asked)."""
    exact, wild, exc = {}, {}, {}
    for rule in feed:
        r = rule.strip().lower()
        if not r or r.startswith("//"):
            continue
        if r.startswith("!"):
            exc.setdefault(r[1:].count(".") + 1, set()).add(r[1:])
        elif r.startswith("*."):
            wild.setdefault(r[2:].count(".") + 1, set()).add(r[2:])
        else:
            exact.setdefault(r.count(".") + 1, set()).add(r)
    labels = host.split(".")
    n = len(labels)

    def last(k: int) -> str:
        return ".".join(labels[-k:])

    for k in sorted(exc, reverse=True):
        if last(k) in exc[k]:
            return last(k)
    for pl in sorted({*exact} | {m + 1 for m in wild}, reverse=True):
        hit = (pl in exact and last(pl) in exact[pl]) or (
            (pl - 1) in wild and n >= pl and last(pl - 1) in wild[pl - 1]
        )
        if hit:
            return last(pl + 1) if n >= pl + 1 else None
    return last(2) if n >= 2 else None


@given(
    st.lists(_PSL_HOST, min_size=1, max_size=15),
    st.lists(_PSL_RULE, min_size=0, max_size=8),
)
@settings(**SETTINGS)
def test_registered_domain_psl_matches_python_model(spark, hosts, feed):
    """The full PSL grammar (plain/wildcard/exception rules at any
    depth) against an independent Python model on generated hosts and
    rule feeds — the grammar's precedence, the no-registrable-part
    NULLs, and the default rule all pinned on arbitrary inputs."""
    from giraph_spark.functions.urls import registered_domain_psl

    # 'www' never appears in _PSL_LABELS, so url_host's www-strip is
    # inert and the model sees the same host the expression does
    df = spark.createDataFrame(
        [(f"https://{h}/x", h) for h in hosts], "url string, host string"
    )
    got = [
        r["d"]
        for r in df.select(
            registered_domain_psl(F.col("url"), tuple(feed)).alias("d")
        ).collect()
    ]
    want = [_py_psl_model(h, feed) for h in hosts]
    assert got == want, (hosts, feed)


@given(
    st.binary(min_size=0, max_size=200),
    st.integers(min_value=0, max_value=250),
    st.integers(min_value=0, max_value=250),
)
@settings(**SETTINGS)
def test_read_warc_members_never_fails_a_task(spark, tmp_path_factory, blob, off, ln):
    """Range-fetch robustness: arbitrary bytes at arbitrary (offset,
    length) must yield parsed records or ONE error row per capture —
    never a task failure (a stale index must not abort the fetch job)."""
    from giraph_spark.sources.warc import make_warc, read_warc_members

    d = tmp_path_factory.mktemp("fuzz")
    real = make_warc(
        [({"WARC-Type": "conversion", "WARC-Record-ID": "<urn:x>"}, b"ok")]
    )
    (d / "s.warc.gz").write_bytes(blob + real)
    caps = spark.createDataFrame(
        [("s.warc.gz", off, ln), ("s.warc.gz", len(blob), len(real))],
        "filename string, offset long, length long",
    )
    rows = read_warc_members(caps, base_dir=str(d)).collect()
    # the aligned capture always parses
    assert any(
        r["error"] is None
        and r["offset"] == len(blob)
        and bytes(r["payload"]) == b"ok"
        for r in rows
    )
    # every row is either a parsed record (fetch_bytes accounted) or
    # an error row (no payload claimed) — never anything in between
    assert len(rows) >= 2
    for r in rows:
        if r["error"] is None:
            assert r["fetch_bytes"] is not None and r["payload"] is not None
        else:
            assert r["payload"] is None and r["fetch_bytes"] is None


# ------------------- r10: robots verdict vs a pure-Python RFC model --

_RP_SEG = st.sampled_from(["a", "b", "tmp", "private", "ok.html", "x"])
_RP_PATTERN = st.builds(
    lambda segs, wild, anchor: "/"
    + "/".join(segs)
    + ("*" if wild else "")
    + ("$" if anchor else ""),
    st.lists(_RP_SEG, min_size=1, max_size=3),
    st.booleans(),
    st.booleans(),
)
_RP_LINE = st.one_of(
    _RP_PATTERN.map(lambda p: ("disallow", p)),
    _RP_PATTERN.map(lambda p: ("allow", p)),
)
_RP_GROUP = st.tuples(
    st.lists(st.sampled_from(["*", "mybot", "otherbot"]), min_size=1, max_size=2),
    st.lists(_RP_LINE, min_size=0, max_size=3),
)
_RP_PATH = st.builds(
    lambda segs, trail: "/" + "/".join(segs) + ("/" if trail else ""),
    st.lists(_RP_SEG, min_size=0, max_size=3),
    st.booleans(),
)


def _py_robots_allowed(groups, agent: str, path: str) -> bool:
    """Pure-Python RFC 9309 model: the exact-agent group(s) govern iff
    any group names the agent, else the ``*`` group(s); among matching
    rules longest pattern wins, allow wins a length tie; no matching
    rule means allowed.

    Groups follow the RFC 9309 §2.1 grammar, ``group = startgroupline
    *(startgroupline / emptyline) *(rule / emptyline)``: the user-agent
    lines of a rule-less group run on, across blank lines, into the next
    group's, so its agents share that group's rules; a trailing
    rule-less group has no rules at all."""
    import re as _re

    merged, pending = [], []
    for agents, lines in groups:
        pending = pending + list(agents)
        if lines:
            merged.append((pending, lines))
            pending = []
    if pending:
        merged.append((pending, []))
    groups = merged

    has_exact = any(agent in a for a, _ in groups)
    rules = [
        (rule, pat)
        for agents, lines in groups
        for rule, pat in lines
        if ((agent in agents) if has_exact else ("*" in agents))
    ]
    best = None  # (len, is_allow)
    for rule, pat in rules:
        esc = _re.escape(pat).replace(r"\*", ".*")
        if pat.endswith("$"):
            esc = esc[: -len(_re.escape("$"))] + "$"
        if _re.match(esc, path):
            key = (len(pat), rule == "allow")
            if best is None or key > best:
                best = key
    return True if best is None else best[1]


@given(
    st.lists(_RP_GROUP, min_size=1, max_size=3),
    st.lists(_RP_PATH, min_size=1, max_size=10),
)
@example(  # a rule-less mybot group merges into the next: /a disallowed
    groups=[(["mybot"], []), (["*"], [("disallow", "/a")])], paths=["/a"]
)
@example(  # a trailing rule-less mybot group: no rules, /a allowed
    groups=[(["*"], [("disallow", "/a")]), (["mybot"], [])], paths=["/a"]
)
@settings(**SETTINGS)
def test_robots_verdict_matches_python_rfc_model(spark, groups, paths):
    """parse_robots + robots_verdict against an independent Python
    RFC 9309 model on generated group files and paths — group
    selection, longest-match, allow-tie, wildcard/anchor compilation
    all pinned on arbitrary inputs."""
    from giraph_spark.functions.urls import parse_robots, robots_verdict

    text = "\n".join(
        "\n".join([f"User-agent: {a}" for a in agents]
                  + [f"{r.capitalize()}: {p}" for r, p in lines])
        + "\n"
        for agents, lines in groups
    )
    rules = parse_robots(
        spark.createDataFrame([("h.example", text)], "host string, text string")
    )
    urls = spark.createDataFrame(
        [(i, f"https://h.example{p}") for i, p in enumerate(paths)],
        "doc_id long, url string",
    )
    got = {
        r["doc_id"]: r["robots_allowed"]
        for r in robots_verdict(urls, rules, "mybot").collect()
    }
    for i, p in enumerate(paths):
        want = _py_robots_allowed(groups, "mybot", p)
        assert got[i] == want, (text, p, got[i], want)


# ---- r11: SURT keys, sequence spans, banded pairs, IDNA ----

_SURT_LABEL = st.sampled_from(["a", "news", "Example", "co", "uk", "x9"])
_SURT_SEG = st.sampled_from(["", "A", "p1", "x", "Y2"])
_SURT_PARAM = st.sampled_from(["a=1", "B=2", "utm_source=x", "z=", "gclid=g"])


def _py_surt(host_labels, segs, params) -> str:
    """Pure-Python mirror of surt_key's documented canonical form
    (non-IP hosts; the IP branch is pinned by the closed-form test)."""
    host = ".".join(host_labels).lower()
    if host.startswith("www."):
        host = host[4:]
    rev = ",".join(reversed(host.split(".")))
    path = ("/" + "/".join(segs)).lower() if segs else "/"
    tracking = {
        "utm_source", "utm_medium", "utm_campaign", "utm_term",
        "utm_content", "gclid", "fbclid", "msclkid", "mc_cid", "mc_eid",
    }
    kept = sorted(
        kv for kv in (p.lower() for p in params)
        if kv and kv.split("=", 1)[0] not in tracking
    )
    q = "?" + "&".join(kept) if kept else ""
    return f"{rev}){path}{q}"


@given(
    st.lists(_SURT_LABEL, min_size=1, max_size=4),
    st.lists(_SURT_SEG, min_size=0, max_size=3),
    st.lists(_SURT_PARAM, min_size=0, max_size=3),
)
@settings(**SETTINGS)
def test_surt_key_matches_python_model(spark, host_labels, segs, params):
    """surt_key against an independent Python model on generated
    hosts/paths/queries: reversal, lowercasing, www strip, tracking
    drop, param sort — all pinned on arbitrary compositions."""
    from giraph_spark.functions.urls import surt_key

    url = "https://" + ".".join(host_labels)
    url += "/" + "/".join(segs) if segs else "/"
    if params:
        url += "?" + "&".join(params)
    df = spark.createDataFrame([(url,)], "url string")
    [r] = df.select(surt_key(F.col("url")).alias("k")).collect()
    # model path: segs==[] means path "/" which the URL also carries
    want = _py_surt(host_labels, segs, params)
    assert r["k"] == want, (url, r["k"], want)


@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=20),
    st.integers(min_value=1, max_value=17),
)
@settings(**SETTINGS)
def test_pack_sequence_spans_matches_python_fold(spark, tokens, seq_len):
    """pack_sequence_spans against the obvious sequential fold:
    offsets are exclusive running sums over nonempty docs in id
    order, spans are floor arithmetic, and the stream is gapless —
    each nonempty doc starts exactly where the previous one ended."""
    from giraph_spark.functions.export import pack_sequence_spans

    rows = [(i, t) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: (r["offset"], r["first_seq"], r["last_seq"], r["n_seqs"])
        for r in pack_sequence_spans(df, seq_len=seq_len).collect()
    }
    pos = 0
    for i, t in enumerate(tokens):
        if t <= 0:
            assert i not in got
            continue
        first, last = pos // seq_len, (pos + t - 1) // seq_len
        assert got[i] == (pos, first, last, last - first + 1), (
            i, got[i], (pos, first, last)
        )
        pos += t


@given(
    st.integers(min_value=0, max_value=(1 << 64) - 1),
    st.sets(st.integers(min_value=0, max_value=63), min_size=0, max_size=3),
)
@settings(**SETTINGS)
def test_banded_pairs_complete_at_low_hamming(spark, base, flip):
    """The pigeonhole guarantee the imagehash/audiohash/videohash
    docstrings claim: a pair within Hamming <= 3 ALWAYS collides on
    at least one of the four 16-bit bands, so banded_hamming_pairs
    finds it — checked on arbitrary 64-bit values and flip sets."""
    from giraph_spark.functions.imagehash import banded_hamming_pairs

    other = base
    for b in flip:
        other ^= 1 << b

    def row(mid, u):
        signed = u - (1 << 64) if u >= 1 << 63 else u
        return (
            mid, signed,
            u & 0xFFFF, (u >> 16) & 0xFFFF,
            (u >> 32) & 0xFFFF, (u >> 48) & 0xFFFF,
            None,
        )

    df = spark.createDataFrame(
        [row(1, base), row(2, other)],
        "media_id long, dhash long, b0 int, b1 int, b2 int, b3 int, "
        "error string",
    )
    pairs = banded_hamming_pairs(df, max_hamming=3).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [
        (1, 2, len(flip))
    ]


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll",), max_codepoint=0x45F
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=3,
    )
)
@settings(**SETTINGS)
def test_idna_host_matches_stdlib(spark, labels):
    """idna_host against the stdlib codec on generated (latin +
    cyrillic lowercase) hosts: encodable hosts come back in the
    codec's ASCII form, un-encodable ones unchanged — never NULL,
    never an error."""
    from giraph_spark.functions.urls import idna_host

    host = ".".join(labels)
    try:
        want = host.encode("idna").decode("ascii") if not host.isascii() else host
    except UnicodeError:
        want = host
    # url_host strips one leading 'www.'; keep the model identical
    if want.startswith("www."):
        want = want[4:]
    url = f"https://{host}/p"
    df = spark.createDataFrame([(url,)], "url string")
    [r] = df.select(idna_host(F.col("url")).alias("h")).collect()
    got = r["h"]
    if host.startswith("www."):
        # the strip happens BEFORE the encode in idna_host
        stripped = host[4:]
        try:
            want = (
                stripped.encode("idna").decode("ascii")
                if not stripped.isascii()
                else stripped
            )
        except UnicodeError:
            want = stripped
    assert got == want, (host, got, want)
