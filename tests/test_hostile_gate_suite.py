"""Hostile-data replica of the driver's correctness gate: run the REAL
`__spark_entry__.queries()` against the REAL `oracle_sql()` (same
row-count + column + value-hash compare as tools/check_correctness) over
ADVERSARIAL documents/embeddings tables — null text, empty strings,
unicode whitespace/case hazards, control characters, regex metachars,
duplicate and near-duplicate rows, null/empty/zero-norm embeddings.

The fixture-distribution gates can only certify the contracts on the
generator's vocabulary; this suite certifies them where engines actually
fork (it is how the Java-vs-RE2 \\s split was found).

`oracle_sql()` embeds the sf0.01 k-means codebook in the oracles of the
gates that assign IVF cells, so those literals cannot describe this
data. Those gates run against `ivf_oracle_sql` fed with the codebook of
the hostile embeddings table instead (rebuilt without Spark by
tools/annoracle.py). The other gates whose oracle embeds sf0.01
literals (`ann_kmeans_refine`) are excluded."""

import os
import random

import duckdb
import pandas as pd
import pytest

from tests.test_cross_engine_fuzz import _PIECES

DOC_GATES = [
    "bm25_topk", "cms_heavy_hitters", "table_stats", "weighted_sample",
    "hybrid_rrf_topk", "quality_model_score", "pmi_cooccurrence",
    "temperature_mixture",
    "chunk_documents", "mixture_sample", "hashed_bow", "rag_chunk_topk",
    "contamination_spans", "decontaminate", "dedup_clusters", "dedup_exact",
    "dedup_jaccard_lsh", "dedup_keep_docs", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_simhash", "doc_fingerprint",
    "dup_passage_stats", "dup_passage_scrub", "dedup_incremental",
    "footer_keyword_filter", "lang_id",
    "multimodal_decode_meta", "near_dedup_keep", "pack_sequences",
    "pii_scrub", "quality_by_source", "quality_filter_keep",
    "quality_probe_weights", "quality_probe_agreement",
    "repetition_stats", "split_assign", "stratified_sample",
    "text_quality_scores", "token_count", "token_df_stats", "topk_terms",
    "unigram_surprisal", "bigram_surprisal",
    "whitespace_normalize", "winnow_containment",
    "winnow_fingerprints",
]
EMB_GATES = [
    "ann_sq8_encode", "ann_sq8_topk", "ann_batch_topk", "ann_lsh_buckets",
    "ann_topk_cosine", "centroid_by_label", "embedding_cosine_dups",
]
IVF_GATES = [
    "ann_ivf_topk", "ann_ivf_sq8_topk", "ann_ivf_kmeans_assign",
    "ann_ivf_kmeans_topk", "semdedup_pairs", "semdedup_keep",
]

LANGS = ["en", "de", "fr", "es", "zz", None]


def _hostile_docs(n=240, seed=11):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        if i in (17, 53):
            text = None                      # null text
        elif i == 54:
            text = ""                        # empty
        elif i == 55:
            text = " \t\x0b\n "              # whitespace-only incl. VT
        elif i % 37 == 1 and i > 37:
            text = rows[i - 37][1]           # exact duplicate of an earlier doc
        else:
            k = rng.randint(1, 14)
            text = " ".join(rng.choice(_PIECES) for _ in range(k))
        rows.append((i, text, LANGS[i % len(LANGS)], f"src{i % 3}",
                     len(text) if text else 0))
    return pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"])


def _hostile_embs(n=200, seed=23, dims=8):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        if i in (9, 110):
            v = None                         # null embedding
        elif i == 10:
            v = []                           # empty
        elif i in (11, 111):
            v = [0.0] * dims                 # zero-norm
        elif i == 12:
            v = [float(f"{rng.uniform(-1, 1):.4f}") for _ in range(dims)]
            rows.append((i, v, i % 5))
            rows.append((i + 1, list(v), (i + 1) % 5))  # exact dup pair
            continue
        else:
            v = [float(f"{rng.uniform(-1, 1):.4f}") for _ in range(dims)]
        rows.append((i, v, i % 5))
    seen = set()
    out = [r for r in rows if not (r[0] in seen or seen.add(r[0]))]
    return pd.DataFrame(out, columns=["vec_id", "embedding", "label"])


@pytest.fixture(scope="module")
def hostile_sf_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hostile_sf"))
    docs = _hostile_docs()
    embs = _hostile_embs()
    spark.createDataFrame(docs).repartition(4).write.parquet(
        os.path.join(d, "documents.parquet"))
    spark.createDataFrame(
        embs, "vec_id long, embedding array<float>, label int"
    ).repartition(3).write.parquet(os.path.join(d, "embeddings.parquet"))
    return d


def _run_suite(spark, sf_dir, names, oracles=None):
    """Check each gate of ``names`` on the tables at ``sf_dir``: against
    `oracle_sql()` through `check_gate`, or against the SQL of
    ``oracles`` when given."""
    import __spark_entry__ as E
    from tools.check_correctness import check_gate, compare_frames

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')")

    def problems_of(name):
        if oracles is None:
            return check_gate(spark, con, sf_dir, name)
        got = E.queries()[name](spark, sf_dir).toPandas()
        return compare_frames(got, con.sql(oracles[name]).df(), {})

    failures = {name: problems for name in names
                if (problems := problems_of(name))}
    assert not failures, "\n".join(
        f"{n}: {'; '.join(m)}" for n, m in failures.items())


def test_document_gates_on_hostile_corpus(spark, hostile_sf_dir):
    _run_suite(spark, hostile_sf_dir, DOC_GATES)


def test_embedding_gates_on_hostile_corpus(spark, hostile_sf_dir):
    _run_suite(spark, hostile_sf_dir, EMB_GATES)


def test_ivf_gates_on_hostile_corpus(spark, hostile_sf_dir):
    """Cell assignment, probing and SemDeDup over null, empty, zero-norm
    and duplicate embeddings, each oracle built on the hostile table's
    own k-means codebook."""
    import __spark_entry__ as E
    from tools.annoracle import centroid_values_sql, kmeans_centroids

    oracles = E.ivf_oracle_sql(centroid_values_sql(kmeans_centroids(
        os.path.join(hostile_sf_dir, "embeddings.parquet"))))
    assert sorted(oracles) == sorted(IVF_GATES)
    _run_suite(spark, hostile_sf_dir, IVF_GATES, oracles)
