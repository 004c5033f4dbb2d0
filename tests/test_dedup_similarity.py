"""Dedup + similarity operators: exactness of the baselines, recall of
the approximate (LSH) paths vs the exact paths."""

import random

import pytest
from pyspark.sql import functions as F

from ontology_matcher_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from ontology_matcher_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup,
    make_planes,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    for i in range(120):
        base = [rng.choice(vocab) for _ in range(30)]
        rows.append((i, " ".join(base)))
        if i % 4 == 0:  # near-duplicate: mutate 2 tokens
            mut = list(base)
            mut[3], mut[17] = "zz1", "zz2"
            rows.append((1000 + i, " ".join(mut)))
        if i % 10 == 0:  # exact duplicate
            rows.append((2000 + i, " ".join(base)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _py_jaccard(a: str, b: str, k: int = 3) -> float:
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B) if A | B else 0.0


def test_exact_dedup_groups(spark, corpus):
    out = exact_dedup(corpus).collect()
    texts = {r["doc_id"]: r for r in out}
    dups = [r for r in out if r["is_duplicate"]]
    assert len(dups) == 12  # one per i % 10 == 0
    for r in dups:
        assert r["dup_rank"] > 1


def test_ngram_jaccard_matches_python(spark, corpus):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    rows = {r["doc_id"]: r["text"] for r in corpus.collect()}
    exp = {}
    ids = sorted(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            j = _py_jaccard(rows[a], rows[b])
            if j >= 0.5:
                exp[(a, b)] = j
    assert set(got) == set(exp)
    for k in got:
        assert abs(got[k] - exp[k]) < 1e-9


def test_minhash_recall_vs_exact(spark, corpus):
    """LSH banding must recover ≥90% of pairs with true Jaccard ≥ 0.8
    and estimate Jaccard within 0.25."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(corpus, threshold=0.8).collect()
    }
    assert exact, "corpus must contain high-similarity pairs"
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in minhash_lsh_pairs(corpus, num_hashes=32, bands=8).collect()
    }
    found = [p for p in exact if p in got]
    assert len(found) / len(exact) >= 0.9
    for p in found:
        assert abs(got[p] - exact[p]) <= 0.25


def test_brute_force_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(80, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )
    q = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = brute_force_topk(df, q, k=5).collect()
    sims = vecs @ vecs.T / (
        np.linalg.norm(vecs, axis=1)[:, None] * np.linalg.norm(vecs, axis=1)[None, :]
    )
    for qi in (0, 1):
        exp_ids = list(np.argsort(-sims[qi], kind="stable")[:5])
        got_ids = [r["vec_id"] for r in got if r["query_id"] == qi]
        assert got_ids == [int(x) for x in exp_ids]


def test_lsh_neardup_recall(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.normal(size=(40, 32)).astype("float32")
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        noisy = v + rng.normal(scale=0.02, size=32).astype("float32")
        rows.append((1000 + i, [float(x) for x in noisy]))  # near-dup pair
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    planes = make_planes(32, n_planes=4, seed=11)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup(df, planes, threshold=0.98).collect()
    }
    expected_pairs = {(i, 1000 + i) for i in range(40)}
    recall = len(got & expected_pairs) / len(expected_pairs)
    assert recall >= 0.7  # 4 hyperplanes → some bucket splits; recall bounded
    for a, b in got:
        assert a < b


def test_multiband_neardup_beats_single_table_recall(spark):
    """Multi-band hyperplane LSH: fine buckets per band (small
    candidate sets) + several bands (recall). With 12 planes a single
    table loses many near-dup pairs to bucket splits; 4 independent
    12-plane bands must recover ≥95% while the single fine table
    cannot."""
    import numpy as np

    from ontology_matcher_spark.operators.similarity import (
        embedding_near_dup_multiband,
        make_band_planes,
    )

    rng = np.random.default_rng(17)
    base = rng.normal(size=(60, 32)).astype("float64")
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        noisy = v + rng.normal(scale=0.02, size=32)
        rows.append((1000 + i, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    expected = {(i, 1000 + i) for i in range(60)}

    bands = make_band_planes(32, n_planes=12, n_bands=4, seed=11)
    multi = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_multiband(df, bands, threshold=0.98).collect()
    }
    single = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup(df, bands[0], threshold=0.98).collect()
    }
    recall_multi = len(multi & expected) / len(expected)
    recall_single = len(single & expected) / len(expected)
    assert recall_multi >= 0.95
    assert recall_multi > recall_single  # bands recover what one table splits
    for a, b in multi:
        assert a < b


def test_minhash_hot_bucket_guard_reports_drops(spark):
    """Adversarial corpus: identical docs collapse BEFORE banding (no
    O(k²) bucket blow-up), and a boilerplate cluster wider than
    max_bucket is dropped with an OBSERVABLE count — never silently."""
    from ontology_matcher_spark.functions import guards
    from ontology_matcher_spark.operators.dedup import DEFAULT_MAX_BUCKET

    assert DEFAULT_MAX_BUCKET is not None  # guard defaults ON

    rows = []
    # 200 byte-identical docs → one signature → intra-group expansion
    for i in range(200):
        rows.append((i, "alpha beta gamma delta epsilon zeta eta theta"))
    # boilerplate cluster: 40 docs sharing a long template, one unique
    # token each → distinct signatures landing in shared band buckets
    tmpl = " ".join(f"common{j}" for j in range(30))
    for i in range(40):
        rows.append((1000 + i, tmpl + f" unique{i}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    unguarded = minhash_lsh_pairs(df, max_bucket=None).count()
    guarded = minhash_lsh_pairs(df, max_bucket=8)
    n_guarded = guarded.count()
    stats = dict(guards.LAST_DROP_STATS)
    assert stats["buckets_dropped"] > 0 and stats["rows_dropped"] > 0
    # identical-doc pairs (est 1.0) survive — they bypass banding
    assert n_guarded >= 200 * 199 // 2
    assert n_guarded < unguarded  # boilerplate buckets actually dropped


def test_embedding_multiband_guard_reports_drops(spark):
    """Degenerate constant-embedding pileup lands in ONE bucket per
    band; the default-on guard bounds the self-join and reports it."""
    import numpy as np

    from ontology_matcher_spark.functions import guards
    from ontology_matcher_spark.operators.similarity import (
        embedding_near_dup_multiband,
        make_band_planes,
    )

    rng = np.random.default_rng(31)
    rows = [(i, [1.0] * 16) for i in range(50)]  # constant pileup
    rows += [
        (100 + i, [float(x) for x in rng.normal(size=16)]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    bands = make_band_planes(16, n_planes=8, n_bands=2, seed=3)
    out = embedding_near_dup_multiband(
        df, bands, threshold=0.99, max_bucket=10
    ).count()
    stats = dict(guards.LAST_DROP_STATS)
    assert stats["buckets_dropped"] >= 2  # the pileup bucket in each band
    assert out < 50 * 49 // 2  # pileup pairs did not materialize


def test_ivf_index_probe_recall_and_pruning(spark, tmp_path):
    """IVF scale path: centroids trained on a bounded sample, one
    vector copy partitioned by cluster, nprobe-pruned probe. On a
    clustered corpus the probe recovers the brute-force top-1 for
    every query while its scan prunes to the probed clusters'
    partitions; recall rises with nprobe."""
    import glob
    import os
    import re

    import numpy as np

    from ontology_matcher_spark.operators.similarity import (
        brute_force_topk,
        ivf_probe,
        train_ivf_centroids,
        write_ivf_index,
    )

    rng = np.random.default_rng(41)
    # 8 well-separated latent clusters of 30 vectors each
    centers = rng.normal(scale=10.0, size=(8, 12))
    rows = []
    for i in range(240):
        v = centers[i % 8] + rng.normal(scale=0.5, size=12)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = spark.createDataFrame(
        [
            (int(i), [float(x) for x in np.asarray(rows[i][1]) + rng.normal(scale=0.05, size=12)])
            for i in range(6)
        ],
        ["query_id", "query_vec"],
    )

    centroids = train_ivf_centroids(df, n_centroids=8, iters=8)
    path = str(tmp_path / "ivf")
    write_ivf_index(df, centroids, path)
    total_dirs = len(glob.glob(os.path.join(path, "cluster=*")))
    assert total_dirs >= 6  # quantizer actually spread the clusters

    exact = {r["query_id"]: r["vec_id"]
             for r in brute_force_topk(df, q, k=1).collect()}
    probe = ivf_probe(spark, path, q, k=1, nprobe=2)
    got = {r["query_id"]: r["id"] for r in probe.collect() if r["rank"] == 1}
    assert got == exact  # top-1 recall 100% on separated clusters

    # pruning: the probe's own index scan carries a cluster partition
    # filter over <= nprobe x n_queries clusters, fewer than the index has
    plan = probe._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    # (AQE prints the scan in its initial and its final plan)
    probed = {
        frozenset(re.findall(r"\d+", m))
        for f in filters
        for m in re.findall(r"cluster#\d+ (?:IN \(|INSET )([\d, ]+)", f)
    }
    assert len(probed) == 1, plan
    (clusters,) = probed
    assert 0 < len(clusters) <= 2 * 6 and len(clusters) < total_dirs

    # recall monotone in nprobe: nprobe=n_centroids == brute force top-3
    exact3 = {(r["query_id"], r["vec_id"])
              for r in brute_force_topk(df, q, k=3).collect()}
    all3 = {(r["query_id"], r["id"])
            for r in ivf_probe(spark, path, q, k=3, nprobe=8).collect()}
    assert all3 == exact3


def test_ivf_trainer_assignment_bounded_memory():
    """`_assign_chunked` (a) matches the naive 3-D-tensor assignment
    exactly and (b) peaks well under the naive form's footprint at
    realistic dims — the round-4 advisor flagged the naive form at
    ~79 GB for dim=768/k=256/n=50k; the chunked matmul form must stay
    O(chunk × k) regardless of dim."""
    import tracemalloc

    import numpy as np

    from ontology_matcher_spark.operators.similarity import _assign_chunked

    rng = np.random.default_rng(7)
    # correctness vs naive on a small instance
    X = rng.normal(size=(500, 24))
    C = rng.normal(size=(16, 24))
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    assign, min_d2 = _assign_chunked(X, C)
    assert (assign == d2.argmin(1)).all()
    assert np.allclose(min_d2, d2.min(1))

    # memory bound at realistic scale: naive would be n*k*dim*8 = 31 GB
    Xb = rng.normal(size=(20_000, 768))
    Cb = rng.normal(size=(256, 768))
    tracemalloc.start()
    _assign_chunked(Xb, Cb)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 300 * 1024 * 1024, f"peak {peak/1e6:.0f} MB"


def test_ivf_trainer_high_dim_end_to_end(spark):
    """train_ivf_centroids at dim=768 (the advisor's OOM scenario)
    completes and returns well-formed centroids."""
    import numpy as np

    from ontology_matcher_spark.operators.similarity import train_ivf_centroids

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=768)]) for i in range(400)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_ivf_centroids(df, n_centroids=16, iters=3)
    assert len(cents) == 16 and all(len(c) == 768 for c in cents)


def _clustered_corpus(spark, rng, n=240, dim=12, n_centers=8):
    import numpy as np

    centers = rng.normal(scale=10.0, size=(n_centers, dim))
    rows = [
        (i, [float(x) for x in centers[i % n_centers] + rng.normal(scale=0.5, size=dim)])
        for i in range(n)
    ]
    return rows, spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_ivf_probe_batch_matches_serving(spark, tmp_path):
    """`ivf_probe_batch` (no query collect) returns EXACTLY the
    serving `ivf_probe`'s top-k (shared stable tie rule), and handles
    a 10k-row query table — the offline all-vs-index shape the
    serving probe's small-query contract excludes."""
    import numpy as np

    from ontology_matcher_spark.operators.similarity import (
        ivf_probe,
        ivf_probe_batch,
        train_ivf_centroids,
        write_ivf_index,
    )

    rng = np.random.default_rng(41)
    rows, df = _clustered_corpus(spark, rng)
    centroids = train_ivf_centroids(df, n_centroids=8, iters=8)
    path = str(tmp_path / "ivf_batch")
    write_ivf_index(df, centroids, path)

    q = spark.createDataFrame(
        [
            (int(i), [float(x) for x in np.asarray(rows[i][1]) + rng.normal(scale=0.05, size=12)])
            for i in range(6)
        ],
        ["query_id", "query_vec"],
    )
    serve = {(r["query_id"], r["rank"], r["id"], round(r["score"], 6))
             for r in ivf_probe(spark, path, q, k=3, nprobe=2).collect()}
    for salt in (1, 4):  # the default join and the opt-in salted one
        batch = {
            (r["query_id"], r["rank"], r["id"], round(r["score"], 6))
            for r in ivf_probe_batch(
                spark, path, q, k=3, nprobe=2, salt_partitions=salt
            ).collect()
        }
        assert batch == serve and batch, salt

    # 10k-row query table: runs distributed (only the distinct probed
    # cluster ids — ≤ n_centroids ints — ever reach the driver)
    big_q = spark.range(10_000).selectExpr(
        "id as query_id",
        "transform(sequence(1, 12), j -> cast(pmod(id * j, 17) as double) - 8.0) as query_vec",
    )
    out = ivf_probe_batch(spark, path, big_q, k=2, nprobe=1)
    assert out.where("rank > 2").count() == 0
    assert out.select("query_id").distinct().count() == 10_000


def test_write_ivf_index_excludes_malformed(spark, tmp_path):
    """Malformed/NULL vectors never enter the IVF index (they'd land
    in a cluster=-1 partition no probe reads — round-4 advisor), and
    probes over the cleaned index still work."""
    import numpy as np

    from ontology_matcher_spark.operators.similarity import (
        ivf_probe,
        train_ivf_centroids,
        write_ivf_index,
    )

    rng = np.random.default_rng(13)
    rows, df = _clustered_corpus(spark, rng, n=80, dim=8, n_centers=4)
    bad = spark.createDataFrame(
        [(900, None), (901, [1.0, 2.0])],  # NULL and wrong-width
        df.schema,
    )
    centroids = train_ivf_centroids(df, n_centroids=4, iters=4)
    path = str(tmp_path / "ivf_bad")
    write_ivf_index(df.unionByName(bad), centroids, path)
    idx = spark.read.parquet(path)
    assert idx.where("cluster < 0").count() == 0
    assert idx.where("id in (900, 901)").count() == 0
    assert idx.count() == 80
    q = spark.createDataFrame(
        [(0, rows[0][1])], ["query_id", "query_vec"]
    )
    assert ivf_probe(spark, path, q, k=1, nprobe=4).count() == 1


def test_probe_empty_query_schema_matches_nonempty(spark, tmp_path):
    """The no-queries fallback of both IVF probes derives its query-id
    type from the queries frame (a hardcoded string broke unions with
    the long-id normal path)."""
    import numpy as np

    from ontology_matcher_spark.operators.similarity import (
        ivf_probe,
        ivf_probe_batch,
        train_ivf_centroids,
        write_ivf_index,
    )

    rng = np.random.default_rng(3)
    rows, df = _clustered_corpus(spark, rng, n=40, dim=8, n_centers=4)
    path = str(tmp_path / "ivf_empty")
    write_ivf_index(df, train_ivf_centroids(df, n_centroids=4, iters=3), path)

    empty_q = spark.createDataFrame([], "query_id long, query_vec array<double>")
    full_q = spark.createDataFrame(
        [(0, rows[0][1])], ["query_id", "query_vec"]
    )
    for probe in (ivf_probe, ivf_probe_batch):
        e = probe(spark, path, empty_q, k=1)
        f = probe(spark, path, full_q, k=1)
        assert e.count() == 0
        assert [x.dataType for x in e.schema.fields] == [
            x.dataType for x in f.schema.fields
        ], probe.__name__
        # unions must not throw
        f.unionByName(e).count()


def test_probe_rejects_non_ivf_path(spark, tmp_path):
    """Both probes refuse a directory with no ``_IVF_META.json`` (an
    empty one, or a banded-LSH index from before IVF was the one index
    layout, which holds only ``_ANN_META.json``) with a ValueError
    naming the path, not a TypeError from the missing metadata."""
    from ontology_matcher_spark.operators.similarity import (
        ivf_probe,
        ivf_probe_batch,
    )

    empty = tmp_path / "empty"
    empty.mkdir()
    old = tmp_path / "banded"
    old.mkdir()
    (old / "_ANN_META.json").write_text('{"bands": [], "dim": 2}')
    q = spark.createDataFrame([(0, [1.0, 0.0])], ["query_id", "query_vec"])
    for probe in (ivf_probe, ivf_probe_batch):
        for path in (str(empty), str(old)):
            with pytest.raises(ValueError, match="not an IVF index") as ei:
                probe(spark, path, q, k=1)
            assert path in str(ei.value)


# --------------------------------------------------- md5 hash variants
def _py_md5_minhash_pairs(rows, num=32, bands=8):
    """Pure-Python twin of minhash_lsh_pairs(hash_fn='md5',
    max_bucket=None) — md5 is reproducible outside the JVM (unlike
    xxhash64), so the md5 variant gets a full independent oracle."""
    import hashlib
    import re
    from collections import defaultdict

    from ontology_matcher_spark.operators.dedup import _MERSENNE, _affine_params

    params = _affine_params(num)
    rpb = num // bands

    def toks(t):
        return [x for x in re.split(r"[^a-z0-9]+", (t or "").lower()) if x]

    def sh3(t):
        tk = toks(t)
        if len(tk) >= 3:
            out, seen = [], set()
            for i in range(len(tk) - 2):
                g = " ".join(tk[i : i + 3])
                if g not in seen:
                    seen.add(g)
                    out.append(g)
            return out
        return [" ".join(tk)] if tk else []

    def md5h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    sigs = {}
    for d, t in rows:
        hs = [md5h(s) % _MERSENNE for s in sh3(t)]
        if hs:
            sigs[d] = tuple(
                min((h * a + b) % _MERSENNE for h in hs) for a, b in params
            )
    groups = defaultdict(list)
    for d, s in sigs.items():
        groups[s].append(d)
    reps = {min(m): (s, sorted(m)) for s, m in groups.items()}
    buckets = defaultdict(list)
    for rid, (s, _) in reps.items():
        for b in range(bands):
            key = ",".join(str(x) for x in (b,) + s[b * rpb : (b + 1) * rpb])
            buckets[(b, md5h(key))].append(rid)
    out = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                ra, rb = ids[i], ids[j]
                sa, ma = reps[ra]
                sb, mb = reps[rb]
                est = sum(1 for x, y in zip(sa, sb) if x == y) / num
                for x in ma:
                    for y in mb:
                        out.add((min(x, y), max(x, y), est))
    for s, mem in groups.items():
        mem = sorted(mem)
        for i in range(len(mem)):
            for j in range(i + 1, len(mem)):
                out.add((mem[i], mem[j], 1.0))
    return out


def test_minhash_md5_matches_python_oracle(spark, corpus):
    rows = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    expected = _py_md5_minhash_pairs(rows)
    got = {
        (r["id_a"], r["id_b"], r["jaccard_est"])
        for r in minhash_lsh_pairs(corpus, max_bucket=None, hash_fn="md5").collect()
    }
    assert got == expected
    assert expected, "corpus must produce candidate pairs"


def test_simhash_md5_matches_python_oracle(spark, corpus):
    import hashlib
    import re

    from ontology_matcher_spark.operators.dedup import simhash_signatures

    bits = 60
    rows = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    expected = {}
    for d, t in rows:
        tk = [x for x in re.split(r"[^a-z0-9]+", (t or "").lower()) if x]
        if not tk:
            continue
        c = [0] * bits
        for x in tk:
            h = int(hashlib.md5(x.encode()).hexdigest()[:15], 16)
            for i in range(bits):
                c[i] += 1 if (h >> i) & 1 else -1
        expected[d] = sum((1 << i) for i in range(bits) if c[i] > 0)
    got = {
        r["id"]: r["sim"]
        for r in simhash_signatures(corpus, bits=bits, hash_fn="md5").collect()
    }
    assert got == expected
