"""Seeded input generators for the graft benchmark.

Every table is a pure function of (seed, size): the same seed writes
byte-identical rows. Nothing here reads any file; outputs are parquet
files laid out the way graft reads a scale-factor directory
(`<dir>/<table>.parquet`).

Three shapes:

* `opinions`   — opinion-like legal documents: sentences over a Zipfian
                 vocabulary, planted citations and legal entities (so
                 `LegalExtract` has real work), and one unique two-token
                 marker phrase per document (`marker_phrase`).
* `analytics`  — the operator suite's tables in the schema of the sf
                 fixtures (TESTDATA.md): word-salad `documents` with planted duplicates,
                 plus `orders`, `lineitem` and `part`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- opinions

_SYL = ["ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu", "ne",
        "pi", "ro", "sa", "te", "vu", "wi", "xo", "ya", "zu", "tor", "len",
        "mar", "dis", "pel", "rin", "com", "ver", "sta", "gul"]

_LEGAL = ("court appeal plaintiff defendant judgment statute evidence "
          "motion trial jury counsel opinion reversed affirmed remand "
          "contract damages negligence liability petition habeas "
          "constitutional amendment federal district circuit jurisdiction "
          "testimony witness verdict sentence conviction appellant appellee "
          "injunction summary claim due process equal protection "
          "precedent holding dissent concurring").split()

_FILLER = "the of and to in that is for on with as by was it this".split()

_CITES = ["{a} U.S. {b} ({y})", "{a} F.2d {b} ({c} Cir. {y})",
          "{a} F.3d {b} ({c} Cir. {y})", "{a} S. Ct. {b} ({y})",
          "42 U.S.C. § {b}", "{a} Cal. App. {b} ({y})"]
_CIRCUITS = ["1st", "2d", "3d", "4th", "5th", "7th", "9th", "10th", "D.C."]
_JUSTICES = ["Marshall", "Warren", "Brennan", "Holmes", "Cardozo",
             "Brandeis", "Scalia", "Ginsburg", "Rehnquist", "Stevens"]
_PARTIES = ["Brown", "Board of Education", "Smith", "Jones", "Miranda",
            "Arizona", "Roe", "Wade", "United States", "Johnson",
            "Williams", "California", "Texas", "Ohio", "Mapp", "Gideon"]
_COURTS = ["Supreme Court of California", "Supreme Court of Texas",
           "Court of Appeals for the Ninth Circuit",
           "District Court for the Southern District of New York"]
_STATUTES = ["Title VII", "Title IX", "the Sherman Act", "the Clean Air Act"]


def _vocab(n=4000):
    """Fixed pseudo-word vocabulary (independent of the run seed)."""
    rng = np.random.default_rng(12345)
    words, seen = [], set(_LEGAL) | set(_FILLER)
    while len(words) < n:
        w = "".join(_SYL[i] for i in rng.integers(0, len(_SYL), rng.integers(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return _LEGAL + words


VOCAB = _vocab()
# Zipf(s=1.1) weights over the vocabulary: legal terms are the head
_W = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.1
_W /= _W.sum()


def marker_phrase(doc_id):
    """Two tokens that occur in exactly one document: `mk<id>` spelled in
    letters (the tokenizer keeps [a-z0-9] runs) after a fixed lead."""
    s, n = "", doc_id
    while True:
        s = "abcdefghijklmnopqrstuvwxyz"[n % 26] + s
        n //= 26
        if n == 0:
            break
    return f"qmarker mkq{s}"


def _sentence(rng):
    n = int(rng.integers(8, 22))
    words = []
    for w in rng.choice(len(VOCAB), n, p=_W):
        words.append(VOCAB[w])
        if rng.random() < 0.35:
            words.append(_FILLER[int(rng.integers(0, len(_FILLER)))])
    r = rng.random()
    if r < 0.12:
        f = _CITES[int(rng.integers(0, len(_CITES)))]
        words.append("see " + f.format(a=int(rng.integers(1, 600)),
                                        b=int(rng.integers(1, 2000)),
                                        c=_CIRCUITS[int(rng.integers(0, len(_CIRCUITS)))],
                                        y=int(rng.integers(1900, 2024))))
    elif r < 0.18:
        words.insert(0, "Justice " + _JUSTICES[int(rng.integers(0, len(_JUSTICES)))])
    elif r < 0.24:
        a, b = rng.choice(len(_PARTIES), 2, replace=False)
        words.append(f"in {_PARTIES[a]} v. {_PARTIES[b]}")
    elif r < 0.28:
        words.append("the " + _COURTS[int(rng.integers(0, len(_COURTS)))])
    elif r < 0.31:
        words.append("under " + _STATUTES[int(rng.integers(0, len(_STATUTES)))])
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def opinion_text(rng, doc_id, n_chars):
    """One opinion of about `n_chars` characters, paragraphs of sentences,
    with its marker phrase planted in the first paragraph."""
    paras, total, para = [], 0, []
    marker_at = int(rng.integers(1, 4))
    while total < n_chars:
        s = _sentence(rng)
        if len(para) == marker_at and not paras:
            s = f"The record names {marker_phrase(doc_id)} as the docket marker."
        para.append(s)
        total += len(s) + 1
        if len(para) >= int(rng.integers(4, 9)):
            paras.append(" ".join(para))
            para = []
    if para:
        paras.append(" ".join(para))
    return "\n\n".join(paras)


def opinions(seed, first_id, n_docs, mean_chars):
    """`documents` rows for doc ids [first_id, first_id + n_docs): text
    length is lognormal around `mean_chars`."""
    rng = np.random.default_rng([seed, first_id, 7])
    ids, texts = [], []
    for d in range(first_id, first_id + n_docs):
        n = int(np.clip(rng.lognormal(np.log(mean_chars), 0.35),
                        mean_chars // 3, mean_chars * 3))
        ids.append(d)
        texts.append(opinion_text(rng, d, n))
    return _documents(rng, ids, texts)


def _documents(rng, ids, texts):
    langs = np.array(["en", "de", "fr", "es", "zh"])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.choice(5, len(ids), p=[.4, .15, .15, .15, .15])].tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_table(table, path):
    """Write one parquet table as a directory (Spark's own layout), so a
    later append adds a file beside the existing ones."""
    os.makedirs(path, exist_ok=True)
    n = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    pq.write_table(table, os.path.join(path, f"part-{n:05d}.parquet"))


# --------------------------------------------------------------- analytics

_SALAD = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()


def analytics(seed, out_dir, n_docs, n_orders):
    """The operator suite's tables, schema-identical to the sf fixtures
    (TESTDATA.md): `documents` (word salad, 5% planted `dup` copies),
    `orders`, `lineitem` (~4 lines per order) and `part`."""
    rng = np.random.default_rng([seed, 11])
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_SALAD, n)))
    os.makedirs(out_dir, exist_ok=True)
    # single files, as in the sf fixtures (DuckDB reads them as-is)
    write = lambda t, name: pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    write(_documents(rng, list(range(n_docs)), texts), "documents")

    n_parts = max(50, n_orders // 8)
    names = [f"{a} {b}" for a in ("red", "blue", "hot", "large", "small", "green", "cold", "dark")
             for b in ("bolt", "ring", "nut", "gear", "pipe", "valve", "screw", "plate")]
    types = np.array(["LARGE", "SMALL", "ECONOMY", "STANDARD", "MEDIUM", "PROMO"])
    pk = np.arange(n_parts)
    write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([names[i] for i in rng.integers(0, len(names), n_parts)], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_parts)], pa.string()),
        "p_type": pa.array(types[rng.integers(0, len(types), n_parts)].tolist(), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + pk * 0.1 % 100, 2), pa.float64()),
    }), "part")

    epoch = np.datetime64("1995-01-01", "us")
    day = np.timedelta64(86400 * 10**6, "us")
    ok = np.arange(n_orders)
    write(pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(10, n_orders // 10), n_orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)].tolist(), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2), pa.float64()),
        "o_orderdate": pa.array(epoch + rng.integers(0, 2400, n_orders) * day, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_orders)].tolist(), pa.string()),
    }), "orders")

    per = rng.integers(1, 8, n_orders)
    n_lines = int(per.sum())
    okeys = np.repeat(ok, per)
    lnum = np.concatenate([np.arange(1, p + 1) for p in per]).astype(np.int32)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    write(pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(10, n_parts // 20), n_lines), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_lines), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, n_lines)].tolist(), pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_lines)].tolist(), pa.string()),
        "l_shipdate": pa.array(epoch + rng.integers(0, 2400, n_lines) * day, pa.timestamp("us")),
    }), "lineitem")
