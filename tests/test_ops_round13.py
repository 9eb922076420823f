"""Round-13 tests: size-conditioned broadcast hints on the
DataFrame-probe Q2 path (verdict r12 "what's wrong #1").

The planet-scale query path (``query_tableset_cells_df``, its per-table
select, the ``H3DataFrame.uncompact`` subset restrict and partition pruning)
used to FORCE ``F.broadcast`` on the probe cell frame; at the path's
own design point (a res-8 continent AOI is 76M+ cells) the hint
overrides Spark's size threshold into a multi-GB broadcast build. Now
the hint is applied only when the caller's arithmetic bound on the cell
count (stats ``n`` · 7^diff — known without a count job) is at most
``query.BROADCAST_MAX_CELLS``; otherwise the plain leftsemi is emitted
and AQE picks the strategy. The per-table select takes that decision
from ``query.cells_probe``.

These tests assert the HINT at the optimized-logical-plan level
(``rightHint=(strategy=broadcast)``) rather than the physical join
choice, because with sf-test data AQE may legitimately broadcast a
small un-hinted side — the defect was the forced hint, not broadcast
itself.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _has_broadcast_hint(df) -> bool:
    """True if any LeftSemi join in the optimized plan carries a
    broadcast hint — only the probe-side SEMI-join hint is
    size-conditioned (the staged expansion joins nothing)."""
    return any(
        "LeftSemi" in line and "strategy=broadcast" in line
        for line in _optimized(df).splitlines()
    )


class TestBuildTableQueryDfHint:
    @pytest.fixture()
    def table_df(self, spark):
        from ukis_h3cellstore_spark.h3 import cells as h3c

        region = h3c.build_cell(60, [1, 2, 3])
        cells = h3c.cell_to_children(region, 6)
        return spark.createDataFrame(
            [(c, i) for i, c in enumerate(cells)], "h3index long, value int"
        )

    def _probe(self, spark):
        from ukis_h3cellstore_spark.h3 import cells as h3c
        from ukis_h3cellstore_spark.query import cells_frame

        region = h3c.build_cell(60, [1, 2, 3])
        return cells_frame(spark, "h3index", h3c.cell_to_children(region, 6)[:5])

    def test_small_bound_gets_hint(self, spark, table_df):
        from ukis_h3cellstore_spark import query as bq

        out = bq.build_table_query(
            spark, table_df, "h3index",
            bq.cells_probe(spark, "h3index", self._probe(spark), 5), None,
            ["h3index", "value"],
        )
        assert _has_broadcast_hint(out)

    def test_large_bound_no_hint(self, spark, table_df):
        from ukis_h3cellstore_spark import query as bq

        out = bq.build_table_query(
            spark, table_df, "h3index",
            bq.cells_probe(
                spark, "h3index", self._probe(spark), bq.BROADCAST_MAX_CELLS + 1
            ),
            None,
            ["h3index", "value"],
        )
        assert not _has_broadcast_hint(out)

    def test_unknown_bound_no_hint(self, spark, table_df):
        # unknown size must NOT force the hint: the caller that cannot
        # bound the set is exactly the caller that may hand us a
        # continent
        from ukis_h3cellstore_spark import query as bq

        out = bq.build_table_query(
            spark, table_df, "h3index",
            bq.cells_probe(spark, "h3index", self._probe(spark), None), None,
            ["h3index", "value"],
        )
        assert not _has_broadcast_hint(out)


class TestUncompactDfHint:
    def test_subset_restrict_hint_conditioned(self, spark, monkeypatch):
        """``H3DataFrame.uncompact(cells=…)`` restricts through
        ``query.cells_probe``: a short list is an IN filter, a longer
        list a broadcast semi-join, a frame (size unknown) an
        un-hinted semi-join — and all three return the same rows."""
        from ukis_h3cellstore_spark import query as bq
        from ukis_h3cellstore_spark.frame import H3DataFrame
        from ukis_h3cellstore_spark.h3 import cells as h3c

        region = h3c.build_cell(60, [1, 2, 3, 4])
        kids = h3c.cell_to_children(region, 7)
        wrapped = H3DataFrame(
            spark.createDataFrame([(region, 1.0)], "h3index long, v double")
        )
        cells_df = spark.createDataFrame([(k,) for k in kids[:3]], "h3index long")

        listed = wrapped.uncompact(7, cells=kids[:3]).df
        assert "LeftSemi" not in _optimized(listed)

        unhinted = wrapped.uncompact(7, cells=cells_df).df
        assert "LeftSemi" in _optimized(unhinted)
        assert not _has_broadcast_hint(unhinted)

        monkeypatch.setattr(bq, "MAX_INLIST_CELLS", 0)
        hinted = wrapped.uncompact(7, cells=kids[:3]).df
        assert _has_broadcast_hint(hinted)

        assert (
            sorted(r["h3index"] for r in hinted.collect())
            == sorted(r["h3index"] for r in unhinted.collect())
            == sorted(r["h3index"] for r in listed.collect())
            == sorted(kids[:3])
        )


class TestQueryCellsDfScalePath:
    """End-to-end: with BROADCAST_MAX_CELLS patched to 0 every join in
    the df-probe path goes un-hinted — results must stay identical to
    the list API (the exact equivalence the r12 gate hashes)."""

    @pytest.fixture()
    def dfq_store(self, spark, tmp_path):
        from ukis_h3cellstore_spark import (
            CellStore,
            CompactedTableSchemaBuilder,
        )
        from ukis_h3cellstore_spark.h3 import cells as h3c

        schema = (
            CompactedTableSchemaBuilder("dfq13")
            .h3_base_resolutions([4, 5, 6, 7])
            .add_h3index_column()
            .add_column("value", "Int32")
            .build()
        )
        region = h3c.build_cell(60, [1, 2, 3, 4, 5])
        cells7 = h3c.cell_to_children(region, 7)
        store = CellStore(spark, str(tmp_path / "wh"))
        store.insert_h3dataframe_into_tableset(
            schema,
            spark.createDataFrame(
                [(c, i) for i, c in enumerate(cells7)],
                "h3index long, value int",
            ),
        )
        return store, region, cells7

    def _rows(self, h3df):
        return sorted(
            (r["h3index"], r["value"])
            for r in h3df.df.select("h3index", "value").collect()
        )

    def test_unhinted_path_matches_list_api(self, spark, dfq_store, monkeypatch):
        from ukis_h3cellstore_spark import query as bq
        from ukis_h3cellstore_spark.query import cells_frame

        store, region, cells7 = dfq_store
        monkeypatch.setattr(bq, "BROADCAST_MAX_CELLS", 0)

        out = store.query_tableset_cells_df(
            "dfq13", cells_frame(spark, "h3index", [region]), 7
        )
        assert not _has_broadcast_hint(out.df)
        assert self._rows(out) == self._rows(
            store.query_tableset_cells("dfq13", [region], 7)
        )

        out2 = store.query_tableset_cells_df(
            "dfq13", cells_frame(spark, "h3index", cells7), 5
        )
        assert not _has_broadcast_hint(out2.df)
        assert self._rows(out2) == self._rows(
            store.query_tableset_cells("dfq13", cells7, 5)
        )

    def test_default_small_aoi_still_hinted(self, spark, dfq_store):
        from ukis_h3cellstore_spark.query import cells_frame

        store, region, _cells7 = dfq_store
        out = store.query_tableset_cells_df(
            "dfq13", cells_frame(spark, "h3index", [region]), 7
        )
        # 1 cell · 7^2 = 49 at the finest table — comfortably hinted
        assert _has_broadcast_hint(out.df)

    def test_prune_partitions_join_path(self, spark, dfq_store, monkeypatch):
        # with the static path disabled (cap patched below zero) the
        # pruning must go through the in-plan semi-join, not the
        # driver collect, and keep the result identical
        from ukis_h3cellstore_spark import store as store_mod
        from ukis_h3cellstore_spark.query import cells_frame

        store, region, cells7 = dfq_store
        baseline = self._rows(
            store.query_tableset_cells("dfq13", cells7, 7)
        )
        monkeypatch.setattr(store_mod, "STATIC_PRUNE_MAX_PARTITIONS", -1)
        out = store.query_tableset_cells_df(
            "dfq13", cells_frame(spark, "h3index", cells7), 7
        )
        assert self._rows(out) == baseline


class TestGuidedMaxBucketSize:
    """Round-13 verdict item #5: the MinHash analogue of
    guided_max_hamming — budget-driven bucket-cap resolution with the
    same tighten/fail policy contract."""

    def _stats(self, spark):
        # size histogram: 10 buckets of 2 (10 pairs), 2 of 3 (6),
        # 1 of 100 (4950) — total 4966
        rows = (
            [(b, f"k2{b}", 2, 1, False) for b in range(10)]
            + [(b, f"k3{b}", 3, 3, False) for b in range(2)]
            + [(0, "big", 100, 4950, False)]
        )
        return spark.createDataFrame(
            rows,
            "band int, band_key string, n_docs int, candidate_pairs long, dropped boolean",
        )

    def test_budget_fits_all_keeps_requested(self, spark):
        from ukis_h3cellstore_spark.ops import dedup as D

        assert D.guided_max_bucket_size(self._stats(spark), 5000) is None
        assert D.guided_max_bucket_size(self._stats(spark), 100, requested=3) == 3

    def test_tighten_resolves_largest_fitting_cap(self, spark):
        from ukis_h3cellstore_spark.ops import dedup as D

        assert D.guided_max_bucket_size(self._stats(spark), 100) == 3
        assert D.guided_max_bucket_size(self._stats(spark), 12) == 2

    def test_fail_policy_raises(self, spark):
        import pytest as _pt

        from ukis_h3cellstore_spark.ops import dedup as D

        with _pt.raises(D.DensityBudgetExceeded, match="max_bucket_size=3"):
            D.guided_max_bucket_size(self._stats(spark), 100, policy="fail")

    def test_dup_saturated_warns_and_drops_all(self, spark):
        import pytest as _pt

        from ukis_h3cellstore_spark.ops import dedup as D

        with _pt.warns(UserWarning, match="size-2 buckets exceed"):
            assert D.guided_max_bucket_size(self._stats(spark), 5) == 1

    def test_bad_policy_rejected(self, spark):
        import pytest as _pt

        from ukis_h3cellstore_spark.ops import dedup as D

        with _pt.raises(ValueError, match="policy"):
            D.guided_max_bucket_size(self._stats(spark), 5, policy="maybe")


class TestMinhashPairBudget:
    def _docs(self, spark):
        # 6 identical docs (a near-clique in every band) + distinct
        # filler
        rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(6)]
        rows += [(100 + i, f"unique document number {i} with its own words {i*7}") for i in range(20)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_generous_budget_identical_results(self, spark):
        from ukis_h3cellstore_spark.ops import dedup as D

        docs = self._docs(spark)
        base = sorted(
            (r["id_a"], r["id_b"])
            for r in D.minhash_lsh_pairs(docs, min_est_jaccard=0.5).collect()
        )
        guided = sorted(
            (r["id_a"], r["id_b"])
            for r in D.minhash_lsh_pairs(
                docs, min_est_jaccard=0.5, pair_budget=1_000_000
            ).collect()
        )
        assert guided == base and len(base) >= 15  # C(6,2) clique

    def test_tight_budget_tightens_cap(self, spark):
        from ukis_h3cellstore_spark.ops import dedup as D

        docs = self._docs(spark)
        # the 6-clique contributes C(6,2)=15 per colliding band; a
        # budget below that forces the cap under 6
        guided = D.minhash_lsh_pairs(
            docs, min_est_jaccard=0.5, pair_budget=10
        ).collect()
        base = D.minhash_lsh_pairs(docs, min_est_jaccard=0.5).collect()
        assert len(guided) < len(base)

    def test_fail_policy_raises_end_to_end(self, spark):
        import pytest as _pt

        from ukis_h3cellstore_spark.ops import dedup as D

        with _pt.raises(D.DensityBudgetExceeded):
            D.minhash_lsh_pairs(
                self._docs(spark),
                min_est_jaccard=0.5,
                pair_budget=10,
                policy="fail",
            ).collect()

    def test_auto_budget_no_tightening_on_sparse_corpus(self, spark):
        from ukis_h3cellstore_spark.ops import dedup as D

        docs = self._docs(spark)
        auto = sorted(
            (r["id_a"], r["id_b"])
            for r in D.minhash_lsh_pairs(
                docs, min_est_jaccard=0.5, pair_budget="auto"
            ).collect()
        )
        base = sorted(
            (r["id_a"], r["id_b"])
            for r in D.minhash_lsh_pairs(docs, min_est_jaccard=0.5).collect()
        )
        assert auto == base


class TestResolveBucketCapProperties:
    """Hypothesis properties of the pure cumulative-fit: budget
    compliance and MAXIMALITY of the resolved cap."""

    def test_budget_and_maximality(self):
        import warnings

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from ukis_h3cellstore_spark.ops.dedup import _resolve_bucket_cap

        hist = st.lists(
            st.tuples(
                st.integers(min_value=2, max_value=10_000),
                st.integers(min_value=1, max_value=10**12),
            ),
            min_size=0,
            max_size=30,
            unique_by=lambda t: t[0],
        ).map(sorted)

        @given(
            by_size=hist,
            budget=st.integers(min_value=0, max_value=10**13),
            requested=st.one_of(
                st.none(), st.integers(min_value=1, max_value=12_000)
            ),
        )
        @settings(max_examples=300, deadline=None)
        def prop(by_size, budget, requested):
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                cap = _resolve_bucket_cap(by_size, budget, "tighten", requested)

            def kept(c):
                if c is None:
                    c = float("inf")
                return sum(p for n, p in by_size if n <= c)

            in_range = [
                (n, p) for n, p in by_size
                if requested is None or n <= requested
            ]
            if cap == requested:
                # unchanged = everything within the requested range fits
                assert sum(p for _, p in in_range) <= budget
            else:
                # tightened: kept volume fits ...
                assert kept(cap) <= budget
                # ... the cap never exceeds the request ...
                if requested is not None:
                    assert cap <= requested
                # ... and it is maximal: the next histogram size within
                # the requested range would blow the budget
                nxt = [
                    (n, p) for n, p in in_range if n > cap
                ]
                assert nxt and kept(cap) + nxt[0][1] > budget

        prop()

    def test_fail_policy_consistent_with_tighten(self):
        import warnings

        import pytest as _pt
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from ukis_h3cellstore_spark.ops.dedup import (
            DensityBudgetExceeded,
            _resolve_bucket_cap,
        )

        hist = st.lists(
            st.tuples(
                st.integers(min_value=2, max_value=100),
                st.integers(min_value=1, max_value=10**6),
            ),
            min_size=0,
            max_size=10,
            unique_by=lambda t: t[0],
        ).map(sorted)

        @given(by_size=hist, budget=st.integers(min_value=0, max_value=10**7))
        @settings(max_examples=200, deadline=None)
        def prop(by_size, budget):
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                tightened = _resolve_bucket_cap(by_size, budget, "tighten", None)
                if tightened is None:
                    # no change -> fail must also pass through
                    assert _resolve_bucket_cap(by_size, budget, "fail", None) is None
                else:
                    with _pt.raises(DensityBudgetExceeded):
                        _resolve_bucket_cap(by_size, budget, "fail", None)

        prop()
