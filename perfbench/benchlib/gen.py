"""Seeded input generators for the generated workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical files, a different seed gives different ones.  Each also
returns the facts the expected outputs are computed from, so that the
answers for the MapReduce programs never come from the engine under test.
"""
import hashlib
import os
import unicodedata

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
# cached inputs are keyed by this, so editing a generator invalidates them
with open(os.path.abspath(__file__), "rb") as _f:
    VERSION = hashlib.sha256(_f.read()).hexdigest()[:12]
TABLES_DIR = os.path.join(os.path.dirname(HERE), "data", "sf0.01")

# mr_reference sizes
MR_TEXT_FILES = 16
MR_TEXT_LINES_PER_FILE = 20000
MR_EDGE_FILES = 4
MR_EDGES_PER_FILE = 200000
MR_VERTICES = 20000
GREP_RANK = 10
MR_MATRIX_DIM = 160
MR_MATRIX_DENSITY = 0.3

# graph_rank sizes: ~5 followed links per page, so 60k pages extract
# ~300k distinct edges, above PageRank's 2^18-row id-encode gate
GRAPH_DOCS = 60000
GRAPH_ID_SPACE = 72000
# graph_rank's corpus is drawn once, from this seed (the sf test tables'
# seed): q223's DuckDB oracle over it takes ~20 s, too long to pay per seed
GRAPH_SEED = 42
# query_mix's mid-size corpus, drawn from GRAPH_SEED too: 10k edges, above
# q223's 5000-edge driver-side tier and below the id-encode gate, so q223
# runs the distributed string-keyed loop (as over the sf0.1 tables)
GRAPH_MID_DOCS = 2000
GRAPH_MID_ID_SPACE = 2400

# stream_curation sizes
STREAM_BATCHES = 4
STREAM_BATCH_DOCS = 150

LANGS = ["de", "en", "es", "fr", "zh"]
SOURCES = [f"src{i}" for i in range(20)]

# Non-ASCII words for the word-count text.  Only letters (category L*),
# so a split on non-letters recovers them exactly; no sigma and no sharp
# s, whose case mappings are context- or length-dependent.
UNICODE_WORDS = [
    "über", "café", "niño", "élan", "façade", "smørrebrød", "łódź",
    "данные", "книга", "москва", "поток", "ключ",
    "λόγο", "αλφα", "δελτα", "θήτα",
    "数据", "处理", "東京", "データ", "בית", "بيانات", "한국어",
]


def _is_word(w):
    return all(unicodedata.category(c).startswith("L") for c in w)


def base_vocab():
    """The sf0.01 documents' vocabulary (the same source Soak's generator
    draws from), sorted."""
    con = duckdb.connect()
    rows = con.execute(
        "SELECT DISTINCT w FROM (SELECT unnest(string_split(lower(text), ' ')) AS w "
        f"FROM read_parquet('{TABLES_DIR}/documents.parquet')) WHERE w <> '' ORDER BY w"
    ).fetchall()
    con.close()
    return [r[0] for r in rows]


def _write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


# --------------------------------------------------------------- mr_reference

def gen_mr(seed, out_dir):
    """Text, edge-list and matrix inputs plus the parameters and facts
    the expected outputs come from."""
    rng = np.random.default_rng([seed, 1])
    vocab = sorted(set(base_vocab()) | set(UNICODE_WORDS))
    assert all(_is_word(w) for w in vocab)
    # Zipf-like weights over a seed-shuffled vocabulary; the grep term is
    # a seed-drawn word of at least five letters placed at a fixed rank,
    # so every seed greps a term of the same frequency
    order = rng.permutation(len(vocab))
    weights = 1.0 / (np.arange(len(vocab)) + 1.0) ** 0.8
    weights /= weights.sum()
    seps = [" ", " ", " ", ", ", "; ", " - ", " 17 ", ". "]
    long_ranks = [r for r, i in enumerate(order) if len(vocab[i]) >= 5]
    r = long_ranks[rng.integers(0, len(long_ranks))]
    order[[r, GREP_RANK]] = order[[GREP_RANK, r]]
    term = vocab[order[GREP_RANK]]
    # every word's three spellings; capitalised forms only where
    # lower-casing maps them back (checked here, not assumed)
    forms = []
    for w in vocab:
        cap = w.capitalize() if w.capitalize().lower() == w else w
        up = w.upper() if w.upper().lower() == w else w
        forms += [w, cap, up]
    forms = np.array(forms, dtype=object)
    seps = np.array(seps, dtype=object)
    counts = np.zeros(len(vocab), dtype=np.int64)
    grep_lines = []
    for f in range(MR_TEXT_FILES):
        name = f"part{f:02d}.txt"
        n_words = rng.integers(6, 18, size=MR_TEXT_LINES_PER_FILE)
        total = int(n_words.sum())
        picks = order[rng.choice(len(vocab), size=total, p=weights)]
        counts += np.bincount(picks, minlength=len(vocab))
        r = rng.integers(0, 10, size=total)
        case = np.select([r == 0, r == 1], [1, 2], 0)  # 10% capitalised, 10% upper
        toks = forms[picks * 3 + case]
        gaps = seps[rng.integers(0, len(seps), size=total)]
        ends = np.cumsum(n_words)
        gaps[ends - 1] = "\n"
        inter = np.empty(2 * total, dtype=object)
        inter[0::2] = toks
        inter[1::2] = gaps
        text = "".join(inter.tolist())
        for ln, line in enumerate(text.split("\n")[:-1]):
            if term in line:
                grep_lines.append(f"{name}:{ln + 1}:: {line}")
        _write(os.path.join(out_dir, "text", name), text.encode("utf-8"))
    counts = {vocab[i]: int(c) for i, c in enumerate(counts) if c}

    degree = np.zeros(MR_VERTICES, dtype=np.int64)
    for f in range(MR_EDGE_FILES):
        # power-law sources (a few hubs, a long tail), uniform targets
        a = np.minimum((rng.pareto(1.2, MR_EDGES_PER_FILE) * 50).astype(np.int64), MR_VERTICES - 1)
        b = rng.integers(0, MR_VERTICES, size=MR_EDGES_PER_FILE)
        degree += np.bincount(a, minlength=MR_VERTICES) + np.bincount(b, minlength=MR_VERTICES)
        rows = "\n".join(f"{x}\t{y}" for x, y in zip(a.tolist(), b.tolist()))
        _write(os.path.join(out_dir, "edges", f"edges{f}.txt"), (rows + "\n").encode())
    degree = {str(v): int(d) for v, d in enumerate(degree) if d}

    n = MR_MATRIX_DIM
    mats = {}
    lines = []
    for tag in ("A", "B"):
        mask = rng.random((n, n)) < MR_MATRIX_DENSITY
        vals = rng.integers(1, 10, size=(n, n)) * rng.choice([-1, 1], size=(n, n))
        m = np.where(mask, vals, 0)
        mats[tag] = m
        for i, j in zip(*np.nonzero(m)):
            lines.append(f"{i} {j} {m[i, j]} {tag}")
    perm = rng.permutation(len(lines))
    _write(os.path.join(out_dir, "mm", "in.txt"),
           ("\n".join(lines[k] for k in perm) + "\n").encode())

    _write(os.path.join(out_dir, "params.txt"), f"grep_term={term}\n".encode("utf-8"))
    return {"counts": counts, "term": term, "grep_lines": grep_lines,
            "degree": degree, "A": mats["A"], "B": mats["B"]}


# --------------------------------------------------------------- graph_rank

def _lang_source(rng, n):
    lang_w = rng.dirichlet(np.full(len(LANGS), 4.0))
    src_w = rng.dirichlet(np.full(len(SOURCES), 8.0))
    langs = rng.choice(len(LANGS), size=n, p=lang_w)
    srcs = rng.choice(len(SOURCES), size=n, p=src_w)
    return [LANGS[i] for i in langs], [SOURCES[i] for i in srcs]


def _short_texts(rng, vocab, n):
    lens = rng.integers(8, 30, size=n)
    picks = rng.integers(0, len(vocab), size=int(lens.sum()))
    out, pos = [], 0
    for k in lens.tolist():
        out.append(" ".join(vocab[i] for i in picks[pos:pos + k]))
        pos += k
    return out


def _documents_table(doc_ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def gen_graph(seed, out_dir, docs=None, id_space=None):
    """A `documents` table of `docs` pages (default GRAPH_DOCS) over a
    sparse doc_id set drawn from `id_space` ids (default GRAPH_ID_SPACE):
    a page's sibling link targets doc_id + 1, which exists only where the
    seed drew it."""
    docs = docs or GRAPH_DOCS
    rng = np.random.default_rng([seed, 2])
    ids = np.sort(rng.choice(id_space or GRAPH_ID_SPACE, size=docs, replace=False)).tolist()
    langs, sources = _lang_source(rng, docs)
    texts = _short_texts(rng, base_vocab(), docs)
    _write_parquet(_documents_table(ids, texts, langs, sources),
                   os.path.join(out_dir, "documents.parquet"))
    return {}


# ---------------------------------------------------------- stream_curation

def _tail_word(z):
    s = "zz"
    while True:
        s += chr(ord("a") + z % 26)
        z //= 26
        if z == 0:
            return s


def gen_stream(seed, out_dir):
    """A doc_id-ordered document stream in fixed-size batches with planted
    duplicates (the Soak.buildGenerated design): of every 20 documents,
    one is an exact clone of its predecessor and three are one-word edits
    of a nearby document, so 20% sit in duplicate clusters."""
    rng = np.random.default_rng([seed, 3])
    vocab = base_vocab()
    n = STREAM_BATCHES * STREAM_BATCH_DOCS
    tail = max(31, int(4.0 * np.sqrt(n)))
    fresh = {}

    def fresh_tokens(i):
        if i not in fresh:
            r = np.random.default_rng([seed, 4, i])
            k = int(r.integers(10, 101))
            use_vocab = r.integers(0, 4, size=k) > 0
            vi = r.integers(0, len(vocab), size=k)
            ti = r.integers(0, tail, size=k)
            fresh[i] = [vocab[v] if u else _tail_word(int(t))
                        for u, v, t in zip(use_vocab, vi, ti)]
        return list(fresh[i])

    texts = []
    for i in range(n):
        role = i % 20
        if role == 1:
            toks = fresh_tokens(i - 1)
        elif role in (3, 4, 6):
            toks = fresh_tokens(i - 1 if role == 6 else i - (role - 2))
            r = np.random.default_rng([seed, 5, i])
            p = int(r.integers(0, len(toks)))
            cur = vocab.index(toks[p]) if toks[p] in vocab else 0
            toks[p] = vocab[(cur + 1 + int(r.integers(0, len(vocab) - 1))) % len(vocab)]
        else:
            toks = fresh_tokens(i)
        texts.append(" ".join(toks))
    langs, sources = _lang_source(rng, n)
    for b in range(STREAM_BATCHES):
        lo, hi = b * STREAM_BATCH_DOCS, (b + 1) * STREAM_BATCH_DOCS
        _write_parquet(
            _documents_table(list(range(lo, hi)), texts[lo:hi], langs[lo:hi], sources[lo:hi]),
            os.path.join(out_dir, f"b{b:03d}.parquet"))
    return {}


GENERATORS = {"mr_reference": gen_mr, "graph_rank": gen_graph, "stream_curation": gen_stream}
