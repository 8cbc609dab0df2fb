"""Hostile-data replica of the driver's correctness gate: run the REAL
`__spark_entry__.queries()` against the REAL `oracle_sql()` (same
row-count + column + value-hash compare as tools/check_correctness) over
ADVERSARIAL documents/embeddings tables — null text, empty strings,
unicode whitespace/case hazards, control characters, regex metachars,
duplicate and near-duplicate rows, null/empty/zero-norm embeddings.

The fixture-distribution gates can only certify the contracts on the
generator's vocabulary; this suite certifies them where engines actually
fork (it is how the Java-vs-RE2 \\s split was found).

A gate joins a suite here by the ``hostile=`` field of its record in
`__spark_entry__.GATES` ("documents", "embeddings" or "ivf"); a gate
left out says why in a comment on its record. `oracle_sql()` embeds the
sf0.01 k-means codebook in the oracles of the gates that assign IVF
cells, so those literals cannot describe this data: the "ivf" gates run
against `ivf_oracle_sql` fed with the codebook of the hostile
embeddings table instead (rebuilt without Spark by
tools/annoracle.py)."""

import os
import random

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E
from tests.test_cross_engine_fuzz import _PIECES

DOC_GATES, EMB_GATES, IVF_GATES = (
    [name for name, gate in E.GATES.items() if gate.hostile == suite]
    for suite in ("documents", "embeddings", "ivf"))

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
    from tools.annoracle import centroid_values_sql, kmeans_centroids

    oracles = E.ivf_oracle_sql(centroid_values_sql(kmeans_centroids(
        os.path.join(hostile_sf_dir, "embeddings.parquet"))))
    assert sorted(oracles) == sorted(IVF_GATES)
    _run_suite(spark, hostile_sf_dir, IVF_GATES, oracles)
