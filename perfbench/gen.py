"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (workload, seed): the same seed writes
byte-identical parquet. Sizes are fixed per workload; the seed moves only
the values, so two seeds cost the engine the same amount of work up to the
sampling noise of the distributions below. Value domains follow the
repository's test fixtures (FIXTURES.md): the same column names, types and
vocabularies, so every query and oracle runs unchanged.

Besides the tables the engine reads, a workload directory holds
`truth.json` / `truth_*.parquet`: planted ground truth the correctness
check and the recall metric use. The engine never reads those.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes (rows) ----------------------------------------------------------
CURATE_DOCS = 1000
CURATE_EXACT_DUP_FRAC = 0.08   # copies whose normalized text equals an original
CURATE_NEAR_DUP_FRAC = 0.25    # copies with a few words substituted
CURATE_ALLOWED_LANG_FRAC = 0.6  # share of docs in the pipeline's allowlist

# Dimensions of two sizes under a Zipf-skewed fact side. Both sit below
# Spark's default autoBroadcastJoinThreshold (10 MiB) at this size, so the
# planner broadcasts every dimension join; the shuffle join the bloom rule
# prunes comes from q_join_bloom's shuffle_merge hint.
STAR_CUSTOMERS = 40000
STAR_PARTS = 8000
STAR_SUPPLIERS = 200
STAR_ORDERS = 20000
STAR_ZIPF_A = 1.3        # skew of orders→customer and lineitem→part keys

# The fixtures' word soup, extended with synthetic two-syllable words to a
# 1 000-word vocabulary drawn with Zipf frequencies: common words repeat
# across documents as in real text, without every 3-word shingle being
# shared by hundreds of documents (which a 44-word vocabulary causes).
_FIXTURE_WORDS = ("the a key agg row scan slow fast table value part hash merge batch "
                  "spark line sort window order data column join small customer query "
                  "big stream filter group vector index shard cache plan task stage "
                  "node block page commit").split()
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
VOCAB = _FIXTURE_WORDS + [
    w for w in dict.fromkeys(a + b for a in _SYLLABLES for b in _SYLLABLES)
    if w not in _FIXTURE_WORDS][:1000 - len(_FIXTURE_WORDS)]
_WORD_P = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.05
_WORD_P /= _WORD_P.sum()
LANGS_ALLOWED = ("es", "de", "zh")
LANGS_OTHER = ("en", "fr")
WORKLOADS = ("curate", "star_join")


def _rng(workload, seed):
    return np.random.default_rng([WORKLOADS.index(workload), seed])


def _n(rows, scale):
    return max(200, int(rows * scale))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _zipf_keys(rng, n, perm, a):
    """n keys with a Zipf(a) rank distribution; `perm` maps rank to key, so
    a seeded permutation moves the hot keys with the seed, not the skew."""
    ranks = np.minimum(rng.zipf(a, n) - 1, len(perm) - 1)
    return perm[ranks].astype(np.int64)


def _by_rank(perm, values):
    """Per-key column whose key at Zipf rank r holds values[r]."""
    out = np.empty_like(values)
    out[perm] = values
    return out


# ---- curate ------------------------------------------------------------------

def _doc_text(rng, n_words):
    return " ".join(rng.choice(VOCAB, n_words, p=_WORD_P))


def _exact_variant(rng, text):
    """Same normalized text: case and punctuation changes only."""
    words = text.split(" ")
    for i in rng.choice(len(words), max(1, len(words) // 6), replace=False):
        w = words[i]
        words[i] = (w.upper() if rng.random() < 0.5 else w.capitalize()) + \
            ("," if rng.random() < 0.5 else "")
    return " ".join(words) + "."


def _near_variant(rng, text):
    """One substituted word per ~40: 3-shingle Jaccard stays above 0.8."""
    words = text.split(" ")
    for i in rng.choice(len(words), max(1, len(words) // 40), replace=False):
        words[i] = rng.choice([v for v in VOCAB if v != words[i]])
    return " ".join(words)


def gen_curate(rng, out, scale):
    n = _n(CURATE_DOCS, scale)
    n_exact = int(n * CURATE_EXACT_DUP_FRAC)
    n_near = int(n * CURATE_NEAR_DUP_FRAC)
    n_orig = n - n_exact - n_near
    # heavy-tailed lengths: lognormal word counts, a few docs under the
    # pipeline's 5-token quality floor
    lens = np.clip(rng.lognormal(np.log(40), 0.8, n_orig).astype(int), 2, 400)
    allowed = rng.random(n_orig) < CURATE_ALLOWED_LANG_FRAC
    langs = np.where(allowed, rng.choice(LANGS_ALLOWED, n_orig),
                     rng.choice(LANGS_OTHER, n_orig))
    src_w = 1.0 / np.arange(1, 21) ** 0.7
    sources = rng.choice([f"src{i}" for i in range(20)], n_orig, p=src_w / src_w.sum())
    texts = [_doc_text(rng, k) for k in lens]
    rows = [(texts[i], langs[i], sources[i]) for i in range(n_orig)]
    planted = []  # (original row, near-dup row) positions before id assignment
    # near-dups of allowed-language docs of 40+ words: the pairs the
    # pipeline's near-dup stage sees (3-shingle Jaccard 0.85-0.9)
    long_docs = np.flatnonzero((lens >= 40) & allowed)
    for j in rng.choice(n_orig, n_exact):
        t, l, s = rows[j]
        rows.append((_exact_variant(rng, t), l, s))
    for j in rng.choice(long_docs, n_near):
        t, l, s = rows[j]
        planted.append((int(j), len(rows)))
        rows.append((_near_variant(rng, t), l, s))
    ids = rng.permutation(n).astype(np.int64)
    text_col = [r[0] for r in rows]
    _write(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text_col, pa.string()),
        "lang": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
        "n_chars": pa.array([len(t) for t in text_col], pa.int64()),
    }), f"{out}/documents.parquet")
    _write(pa.table({
        "id_a": pa.array([int(ids[a]) for a, _ in planted], pa.int64()),
        "id_b": pa.array([int(ids[b]) for _, b in planted], pa.int64()),
    }), f"{out}/truth_near_pairs.parquet")
    return {"documents": n}


# ---- star_join ---------------------------------------------------------------

def _ts(days):
    base = np.datetime64("1995-01-01", "D")
    return pa.array((base + days.astype("timedelta64[D]")).astype("datetime64[us]"),
                    pa.timestamp("us"))


def gen_star_join(rng, out, scale):
    # The dimension attributes the queries filter and group on are drawn per
    # Zipf rank from a generator that ignores the seed: the top part alone
    # takes ~25 % of lineitem, so whether it passes q_join_bloom's
    # p_size filter would otherwise move that query's work by a quarter
    # from seed to seed.
    by_rank = np.random.default_rng(0)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), f"{out}/nation.parquet")
    nc = _n(STAR_CUSTOMERS, scale)
    cperm = rng.permutation(nc)
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(_by_rank(cperm, by_rank.integers(0, 25, nc)), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": pa.array(_by_rank(cperm, by_rank.choice(segs, nc)), pa.string()),
    }), f"{out}/customer.parquet")
    ns = STAR_SUPPLIERS
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    }), f"{out}/supplier.parquet")
    npart = _n(STAR_PARTS, scale)
    pperm = rng.permutation(npart)
    adj = np.array(["small", "red", "blue", "hot", "large", "green", "old", "shiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "valve", "spring"])
    price = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(adj, npart), " "),
                                       rng.choice(noun, npart)), pa.string()),
        "p_brand": pa.array(np.char.add(
            "Brand#", _by_rank(pperm, by_rank.integers(1, 26, npart)).astype(str)), pa.string()),
        "p_type": pa.array(rng.choice(["ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                                       "LARGE", "PROMO"], npart), pa.string()),
        "p_size": pa.array(_by_rank(pperm, by_rank.integers(1, 51, npart)), pa.int32()),
        "p_retailprice": price,
    }), f"{out}/part.parquet")
    no = _n(STAR_ORDERS, scale)
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    lines = rng.integers(1, 8, no)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(_zipf_keys(rng, no, cperm, STAR_ZIPF_A), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), pa.string()),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                "4-NOT SPECIFIED", "5-LOW"], no), pa.string()),
    }), f"{out}/orders.parquet")
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    pkey = _zipf_keys(rng, nl, pperm, STAR_ZIPF_A)
    qty = rng.integers(1, 51, nl).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
        "l_shipdate": _ts(odays[okey] + rng.integers(1, 122, nl)),
    }), f"{out}/lineitem.parquet")
    return {"region": 5, "nation": 25, "customer": nc, "supplier": ns,
            "part": npart, "orders": no, "lineitem": nl}


GENERATORS = {"curate": gen_curate, "star_join": gen_star_join}


def generate(workload, seed, out, scale=1.0):
    """Write the workload's inputs under `out`; `scale` < 1 shrinks every
    table (the smoke test's tiny mode). Returns {"rows": {table: rows},
    "input_bytes": total parquet bytes the engine may read}."""
    os.makedirs(out)
    rows = GENERATORS[workload](_rng(workload, seed), out, scale)
    size = 0
    for root, _, files in os.walk(out):
        size += sum(os.path.getsize(os.path.join(root, f))
                    for f in files if not f.startswith("truth"))
    meta = {"rows": rows, "input_bytes": size}
    with open(f"{out}/truth.json", "w") as f:
        json.dump(meta, f)
    return meta
