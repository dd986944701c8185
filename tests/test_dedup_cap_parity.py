"""Engine-vs-oracle algorithm-equality proof for the ``max_df`` cap
(VERDICT r4 #1): on a corpus where the cap BINDS, the Spark engine and
the DuckDB oracle (the same ``_capped_collapse_cte`` machinery the
registered ``dedup_ngram_jaccard`` / ``dedup_containment`` oracles use)
must produce the identical pair list — proving parity is equality of
algorithm, not coincidence of data.

Fixture design (trigram shingles, ``max_df=3``):

- docs 1-6 share ONLY a 5-word boilerplate phrase (its trigrams have
  distinct-set df = 6 > cap): capped candidate generation must DROP
  every cross pair among them — on both sides identically — while the
  uncapped engine run still reports them (cap provably binds).
- docs 7-8 share a rare phrase (df = 2 <= cap): pair survives capping.
- docs 11-13 share a phrase whose distinct-set df is EXACTLY 3 (= cap,
  kept), but exact copies of doc 11 (docs 14, 15) push its RAW df to 5
  (> cap): if either side counted document frequency over raw docs
  instead of DISTINCT shingle sets, these pairs would vanish there and
  the comparison would fail — pinning the df-over-distinct-sets
  semantics.
- the exact copies also exercise the within-group (jaccard/containment
  = 1.0) expansion on both sides.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from breweries_etl_spark.functions import lifecycle
from breweries_etl_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs
from breweries_etl_spark.queries.shared import _capped_collapse_cte

BOILER = "the quick brown fox jumps"
RARE = "zeta eta theta iota"
ATCAP = "kappa lambda mu nu"


def _docs() -> list[tuple[int, str]]:
    rows = []
    for i in range(1, 7):
        rows.append((i, f"{BOILER} alpha{i} beta{i} gamma{i}"))
    rows.append((7, f"{RARE} delta7 epsilon7"))
    rows.append((8, f"{RARE} delta8 epsilon8"))
    for i in range(11, 14):
        rows.append((i, f"{ATCAP} omega{i} psi{i}"))
    rows.append((14, rows[8][1]))  # exact copy of doc 11
    rows.append((15, rows[8][1]))  # exact copy of doc 11
    assert rows[8][0] == 11
    return rows


@pytest.fixture(scope="module")
def corpus(spark):
    rows = _docs()
    sdf = spark.createDataFrame(rows, schema="doc_id long, text string")
    con = duckdb.connect()
    con.register("docs_pd", pd.DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE TABLE documents AS SELECT * FROM docs_pd")
    return sdf, con


def _jaccard_oracle_sql(cap: int, threshold: float) -> str:
    # Same tail as the registered dedup_ngram_jaccard oracle, with the
    # cap/threshold parameterized so the cap binds on the fixture.
    return f"""
{_capped_collapse_cte(3, cap)},
vp AS (
  SELECT xa.gk AS ka, xb.gk AS kb,
    round(CAST(len(list_intersect(xa.rs, xb.rs)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(xa.rs, xb.rs))) AS DOUBLE), 6) AS jaccard
  FROM cand JOIN rep xa ON xa.rid = cand.ra JOIN rep xb ON xb.rid = cand.rb
),
ver AS (SELECT * FROM vp WHERE jaccard >= {threshold}),
cross_p AS (
  SELECT least(ma.doc_id, mb.doc_id) AS id_a,
         greatest(ma.doc_id, mb.doc_id) AS id_b, ver.jaccard
  FROM ver JOIN g ma ON ma.gk = ver.ka JOIN g mb ON mb.gk = ver.kb
),
within AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1.0 AS jaccard
  FROM g a JOIN g b ON a.gk = b.gk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard FROM cross_p
UNION ALL SELECT id_a, id_b, jaccard FROM within
"""


def _containment_oracle_sql(cap: int, threshold: float) -> str:
    return f"""
{_capped_collapse_cte(3, cap)},
vp AS (
  SELECT xa.gk AS ka, xb.gk AS kb,
    round(CAST(len(list_intersect(xa.rs, xb.rs)) AS DOUBLE) / len(xa.rs), 6) AS c_ab,
    round(CAST(len(list_intersect(xa.rs, xb.rs)) AS DOUBLE) / len(xb.rs), 6) AS c_ba
  FROM cand JOIN rep xa ON xa.rid = cand.ra JOIN rep xb ON xb.rid = cand.rb
),
ver AS (SELECT * FROM vp WHERE c_ab >= {threshold} OR c_ba >= {threshold}),
cross_p AS (
  SELECT least(ma.doc_id, mb.doc_id) AS id_a,
         greatest(ma.doc_id, mb.doc_id) AS id_b,
         CASE WHEN ma.doc_id < mb.doc_id THEN c_ab ELSE c_ba END AS containment_ab,
         CASE WHEN ma.doc_id < mb.doc_id THEN c_ba ELSE c_ab END AS containment_ba
  FROM ver JOIN g ma ON ma.gk = ver.ka JOIN g mb ON mb.gk = ver.kb
),
within AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         1.0 AS containment_ab, 1.0 AS containment_ba
  FROM g a JOIN g b ON a.gk = b.gk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, containment_ab, containment_ba FROM cross_p
UNION ALL SELECT id_a, id_b, containment_ab, containment_ba FROM within
"""


def _released_rows(pairs):
    rows = pairs.collect()
    lifecycle.release(pairs)
    return rows


def test_jaccard_cap_binds_and_engine_equals_oracle(corpus):
    sdf, con = corpus
    cap, thr = 3, 0.2

    capped = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in _released_rows(
            ngram_jaccard_pairs(sdf, threshold=thr, n=3, max_df=cap)
        )
    }
    uncapped = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in _released_rows(
            ngram_jaccard_pairs(sdf, threshold=thr, n=3, max_df=None)
        )
    }
    oracle = {tuple(t) for t in con.execute(_jaccard_oracle_sql(cap, thr)).fetchall()}

    # 1. The cap really binds on this fixture (boilerplate pairs drop).
    assert capped != uncapped
    assert any(a == 1 and b == 2 for a, b, _ in uncapped)
    assert not any(a == 1 and b == 2 for a, b, _ in capped)
    # 2. Rare-shingle pair survives the cap.
    assert any(a == 7 and b == 8 for a, b, _ in capped)
    # 3. df counted over DISTINCT sets: raw df of the ATCAP trigrams is
    #    5 (> cap) but distinct-set df is 3 (= cap) -> pairs kept.
    assert any(a == 11 and b == 12 for a, b, _ in capped)
    # 4. Copy-group expansion emits jaccard-1.0 within pairs.
    assert (11, 14, 1.0) in capped and (14, 15, 1.0) in capped
    # 5. THE parity claim: identical algorithm on both sides.
    assert capped == oracle


def test_containment_cap_binds_and_engine_equals_oracle(corpus):
    sdf, con = corpus
    cap, thr = 3, 0.3

    capped = {
        (r["id_a"], r["id_b"], r["containment_ab"], r["containment_ba"])
        for r in _released_rows(
            containment_pairs(sdf, threshold=thr, n=3, max_df=cap)
        )
    }
    uncapped = {
        (r["id_a"], r["id_b"], r["containment_ab"], r["containment_ba"])
        for r in _released_rows(
            containment_pairs(sdf, threshold=thr, n=3, max_df=None)
        )
    }
    oracle = {
        tuple(t) for t in con.execute(_containment_oracle_sql(cap, thr)).fetchall()
    }

    assert capped != uncapped  # cap binds
    assert not any(a == 1 and b == 2 for a, b, *_ in capped)
    assert any(a == 11 and b == 12 for a, b, *_ in capped)
    assert capped == oracle
