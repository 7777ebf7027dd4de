"""Hot-bucket caps for the quadratic-in-bucket dedup family: the
triangular block grid behind semantic dedup's ``max_cell_rows``
(VERDICT r8 item 6) and fuzzy edit-distance's ``max_bucket_rows``
(VERDICT r9 item 3) must be OUTPUT-invariant — every unordered
in-bucket pair meets in exactly one grid cell — while bounding
per-task pair work. The skew probe (tools/skew_probe.py) measures the
stragglers they remove; these tests pin the semantics the probe
relies on."""

from __future__ import annotations

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.operators.fuzzy import edit1_pairs
from etl_inreach_spark.operators.similarity import semantic_dedup_cells


def _rows(df):
    return sorted(
        (r["vec_id"], r["cell"], r["kept"]) for r in df.collect()
    )


def test_capped_semantic_dedup_equals_uncapped(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    base = _rows(semantic_dedup_cells(emb, 0.3, nlist=16))
    # cap far below the cell sizes, forcing a multi-block grid in
    # EVERY cell (sf0.001 cells are ~6-60 rows; cap 7 gives 1-9
    # blocks), including off-diagonal and diagonal grid cells
    capped = _rows(
        semantic_dedup_cells(emb, 0.3, nlist=16, max_cell_rows=7)
    )
    assert capped == base
    # and the inert production cap is a no-op too
    inert = _rows(
        semantic_dedup_cells(emb, 0.3, nlist=16, max_cell_rows=4096)
    )
    assert inert == base


def test_capped_dedup_all_duplicates_one_cell(spark):
    """Degenerate hot cell: every vector is a near-duplicate of one
    base vector, so all land in one cell and every pair qualifies —
    the exact shape of the skew probe. The min-id survivor must be
    the ONLY keeper under any cap."""
    n = 200
    rows = [
        (i, [1.0 + (i % 17) * 1e-6, 2.0, 3.0, 4.0]) for i in range(n)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    base = semantic_dedup_cells(emb, 0.99, nlist=4).collect()
    # every pair qualifies, so each CELL keeps exactly its min id
    # (tiny jitter may scatter the near-dups across the 4 cells)
    per_cell_min = {}
    for r in base:
        c = r["cell"]
        per_cell_min[c] = min(per_cell_min.get(c, r["vec_id"]), r["vec_id"])
    kept = sorted(r["vec_id"] for r in base if r["kept"])
    assert kept == sorted(per_cell_min.values())
    assert len(base) == n
    # a cap forcing ~13 blocks in the hot cell changes nothing
    capped = semantic_dedup_cells(
        emb, 0.99, nlist=4, max_cell_rows=16
    ).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, base))


def _pair_rows(df):
    return sorted(
        (r["id_a"], r["id_b"], r["s_a"], r["s_b"], r["dist"])
        for r in df.collect()
    )


def test_capped_edit1_pairs_equals_uncapped(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    base = _pair_rows(edit1_pairs(cust))
    # natural-name buckets are ~1-3 rows; cap 2 forces multi-block
    # grids wherever a bucket exceeds it, exercising off-diagonal and
    # diagonal grid cells on real data
    capped = _pair_rows(
        edit1_pairs(cust, max_bucket_rows=2)
    )
    assert capped == base
    # and the inert production cap is a no-op too
    inert = _pair_rows(
        edit1_pairs(cust, max_bucket_rows=256)
    )
    assert inert == base


def test_capped_edit1_mass_duplicate_name(spark):
    """Degenerate hot bucket: one name duplicated en masse plus a few
    near-misses — the exact shape of the r10 skew probe. Every
    duplicate pair is a true dist-0 pair (output is quadratic in the
    clique by definition); the cap must change nothing about WHAT
    comes out, only bound per-task work."""
    dup, n_dup = "aaron blake", 60
    rows = [(i, dup) for i in range(n_dup)]
    rows += [(100, "aaron blakes"), (101, "aron blake"), (102, "zz top")]
    df = spark.createDataFrame(rows, "c_custkey long, c_name string")
    base = _pair_rows(edit1_pairs(df))
    # clique pairs + (dup, near-miss) pairs must all be present
    assert len(base) == n_dup * (n_dup - 1) // 2 + 2 * n_dup
    capped = _pair_rows(edit1_pairs(df, max_bucket_rows=8))
    assert capped == base


def test_capped_edit2_pairs_equals_uncapped(spark):
    """k=2 grid cap: a mass-duplicated name's depth-2 neighborhoods
    collide in FULL (every variant bucket of the clique is hot), so
    the triangular grid must cover every unordered pair exactly once
    across ~|s|^2/2 buckets simultaneously — plus near-misses at
    dist 1 AND 2 crossing block boundaries."""
    from etl_inreach_spark.operators.fuzzy import edit2_pairs

    dup, n_dup = "aaron blake", 40
    rows = [(i, dup) for i in range(n_dup)]
    rows += [
        (100, "aaron blakes"),   # dist 1 (1 ins)
        (101, "arron blake"),    # dist 1 (1 sub)
        (102, "aaron blk"),      # dist 2 (2 dels)
        (103, "zz top"),         # far
    ]
    df = spark.createDataFrame(rows, "c_custkey long, c_name string")
    base = _pair_rows(edit2_pairs(df))
    # clique pairs + (dup, near-miss) pairs + the one cross near-miss
    # pair within distance 2 of each other (100, 101)
    assert len(base) == n_dup * (n_dup - 1) // 2 + 3 * n_dup + 1
    capped = _pair_rows(edit2_pairs(df, max_bucket_rows=8))
    assert capped == base
