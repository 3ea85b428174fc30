#!/usr/bin/env python3
"""Statistics of an input data directory, to compare generated inputs with
the repository's test data.

    python3 perfbench/datastats.py <data_dir> [<data_dir> ...]
    python3 perfbench/datastats.py --seed 7 [--scale sf0.01]  # generated

For each table it prints the row count and, per column, the distinct
count and range, or the value shares of a column with few values. For
the text corpus it prints the vocabulary, words per document, the
near-duplicate rate and the pair counts of the similarity operators'
thresholds (q61 at 0.08, q89 at 0.5), and the route
`Operators.jaccardPairsAuto` takes at 0.08 (dense when n(n-1)/2 is at
most half the prefix candidate mass). For the embeddings it prints the
labels, norms and the q95 pair count (cosine at least 0.4). The figures
are per row or per pair, so corpora of different sizes compare directly.
"""
import argparse
import math
import os
import sys
import tempfile

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
P = 1000000007


def word_code(s):
    """The engine's polynomial shingle code (HashFrags.wordCodeDuck)."""
    acc = 7
    for ch in s:
        acc = (acc * 31 + ord(ch)) % P
    return acc


def code_sets(texts):
    """Sorted distinct word-bigram codes per document."""
    out = []
    for t in texts:
        w = t.split(" ")
        out.append(sorted({word_code(w[i] + " " + w[i + 1])
                           for i in range(len(w) - 1)}))
    return out


def prefix_mass(sets, tau):
    """Operators.prefixCandidateMass: sum of df^2 over prefix codes."""
    df = {}
    for cs in sets:
        n = len(cs)
        k = n - math.ceil(n * tau - n * 1e-6) + 1
        for c in cs[:max(k, 0)]:
            df[c] = df.get(c, 0) + 1
    return sum(v * v for v in df.values())


def jaccard_matrix(sets):
    vocab = {c: i for i, c in enumerate(sorted({c for cs in sets for c in cs}))}
    m = np.zeros((len(sets), len(vocab)), np.float32)
    for r, cs in enumerate(sets):
        m[r, [vocab[c] for c in cs]] = 1.0
    inter = m @ m.T
    sizes = m.sum(axis=1)
    union = sizes[:, None] + sizes[None, :] - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        jac = np.where(union > 0, inter / union, 0.0)
    return jac, len(vocab)


def column_stats(con, t, col, typ):
    q = f'"{col}"'
    n, nd = con.execute(f"SELECT count(*), count(DISTINCT {q}) FROM {t}").fetchone()
    if typ.endswith("[]"):
        ln = con.execute(f"SELECT min(len({q})), max(len({q})) FROM {t}").fetchone()
        return f"list, length {ln[0]}..{ln[1]}"
    if nd <= 12:
        rows = con.execute(f"SELECT {q}, count(*) FROM {t} GROUP BY 1 "
                           "ORDER BY 1").fetchall()
        return "shares " + ", ".join(f"{v}={c / n:.3f}" for v, c in rows)
    if typ == "VARCHAR":
        ln = con.execute(f"SELECT min(length({q})), avg(length({q})), "
                         f"max(length({q})) FROM {t}").fetchone()
        return (f"distinct/rows {nd / n:.3f}, chars {ln[0]}..{ln[2]} "
                f"mean {ln[1]:.1f}")
    lo, hi = con.execute(f"SELECT min({q}), max({q}) FROM {t}").fetchone()
    s = f"distinct/rows {nd / n:.3f}, range {lo} .. {hi}"
    if typ in ("DOUBLE", "BIGINT", "INTEGER", "FLOAT"):
        mean, sd = con.execute(f"SELECT avg({q}), stddev_pop({q}) FROM {t}").fetchone()
        s += f", mean {mean:.4g}, sd {sd:.4g}"
    return s


def corpus_stats(con):
    rows = con.execute("SELECT text FROM documents ORDER BY doc_id").fetchall()
    texts = [r[0] for r in rows]
    n = len(texts)
    words = [t.split(" ") for t in texts]
    lens = np.array([len(w) for w in words])
    vocab = {x for w in words for x in w}
    sets = code_sets(texts)
    jac, nbig = jaccard_matrix(sets)
    iu = np.triu_indices(n, 1)
    pj = jac[iu]
    p08 = int((pj >= 0.08).sum())
    p05 = int((pj >= 0.5).sum())
    np.fill_diagonal(jac, 0.0)
    near = int((jac.max(axis=1) >= 0.5).sum())
    pairs = n * (n - 1) // 2
    mass = prefix_mass(sets, 0.08)
    route = "dense" if n <= 16384 and pairs <= mass / 2 else "prefix"
    exact = len(texts) - len(set(texts))
    print(f"  corpus: vocabulary {len(vocab)} words, {nbig} bigrams; words/doc "
          f"min {lens.min()} p50 {int(np.median(lens))} mean {lens.mean():.1f} "
          f"max {lens.max()}; exact duplicates {exact / n:.3f}")
    print(f"  near-duplicate docs (Jaccard >= 0.5 to another) {near / n:.3f}; "
          f"pairs >= 0.08 (q61) {p08} = {p08 / pairs:.4f} of all pairs; "
          f"pairs >= 0.5 (q89) {p05} = {p05 / n:.3f} per doc")
    print(f"  jaccardPairsAuto at 0.08: prefix mass {mass}, n(n-1)/2 {pairs}, "
          f"mass/pairs {mass / pairs:.2f} -> {route} route")


def embedding_stats(con):
    rows = con.execute("SELECT label, embedding FROM embeddings "
                       "ORDER BY vec_id").fetchall()
    lab = np.array([r[0] for r in rows])
    v = np.array([r[1] for r in rows], np.float64)
    n = len(v)
    nrm = np.linalg.norm(v, axis=1)
    u = v / nrm[:, None]
    cos = u @ u.T
    iu = np.triu_indices(n, 1)
    pc = cos[iu]
    same = (lab[:, None] == lab[None, :])[iu]
    p04 = int((pc >= 0.4).sum())
    print(f"  embeddings: dim {v.shape[1]}, labels {len(set(lab))}, norm mean "
          f"{nrm.mean():.3f} sd {nrm.std():.3f}; cosine same label mean "
          f"{pc[same].mean():.3f}, other {pc[~same].mean():.3f}; pairs >= 0.4 "
          f"(q95) {p04} = {p04 / len(pc):.4f} of all pairs")


def stats(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    print(f"== {data_dir}")
    for t in TABLES:
        n = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        print(f"{t}: {n} rows")
        for col, typ, *_ in con.execute(f"DESCRIBE {t}").fetchall():
            if t == "documents" and col == "text":
                continue
            print(f"  {col} {typ}: {column_stats(con, t, col, typ)}")
    corpus_stats(con)
    embedding_stats(con)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dirs", nargs="*")
    ap.add_argument("--seed", type=int, action="append", default=[],
                    help="profile the inputs datagen.py makes from this seed")
    ap.add_argument("--scale", default="sf0.01",
                    help="the row counts datagen.py uses with --seed")
    args = ap.parse_args()
    if not args.dirs and not args.seed:
        ap.error("give a data directory or --seed")
    for d in args.dirs:
        stats(d)
    sys.path.insert(0, HERE)
    import datagen
    for s in args.seed:
        work = os.path.join(HERE, ".work")
        os.makedirs(work, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=work) as d:
            datagen.generate(s, d, args.scale)
            stats(d)


if __name__ == "__main__":
    main()
