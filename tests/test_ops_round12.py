"""Round-12 operator tests: the hamming density pre-flight probe and
the guided-threshold helper that the multimodal flagship consumes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ukis_h3cellstore_spark.ops import dedup as D


def _fp_df(spark, prints):
    return spark.createDataFrame(
        [(i, int(p)) for i, p in enumerate(prints)], "doc_id long, fp long"
    )


class TestHammingDensityProbe:
    def test_exact_when_unsampled(self, spark):
        # 4 prints: 0b0000, 0b0001, 0b0011, 0b1111 — pairwise hamming
        # distances: (0,1)=1 (0,3)=2 (0,15)=4 (1,3)=1 (1,15)=3 (3,15)=2
        df = _fp_df(spark, [0b0000, 0b0001, 0b0011, 0b1111])
        rows = {
            r["hamming"]: r
            for r in D.hamming_density_probe(
                df, "fp", max_hamming=4, sample_mod=1
            ).collect()
        }
        assert set(rows) == {0, 1, 2, 3, 4}
        cum = {0: 0, 1: 2, 2: 4, 3: 5, 4: 6}
        for d, want in cum.items():
            assert rows[d]["sample_pairs_le"] == want
            # mod=1: the sample IS the corpus, prediction is exact
            assert rows[d]["predicted_pairs_le"] == want
            assert rows[d]["n_sample"] == 4 and rows[d]["n_total"] == 4

    def test_extrapolation_arithmetic(self, spark):
        # sample half the corpus via an explicit mod; prediction must
        # equal sample_pairs * (C(n,2) // C(s,2)) in integer div order
        n = 40
        df = _fp_df(spark, [0] * n)  # all identical: every pair is d=0
        out = {
            r["hamming"]: r
            for r in D.hamming_density_probe(
                df, "fp", max_hamming=1, sample_mod=2
            ).collect()
        }
        s = out[0]["n_sample"]
        assert 2 <= s < n
        sp = out[0]["sample_pairs_le"]
        assert sp == s * (s - 1) // 2
        assert (
            out[0]["predicted_pairs_le"]
            == sp * (n * (n - 1) // 2) // (s * (s - 1) // 2)
        )

    def test_null_prediction_on_tiny_sample(self, spark):
        # a mod larger than the hash spread can leave <2 sampled rows;
        # prediction must be NULL, not a division error
        df = _fp_df(spark, [1, 2])
        rows = D.hamming_density_probe(
            df, "fp", max_hamming=1, sample_mod=10**6
        ).collect()
        assert all(r["predicted_pairs_le"] is None for r in rows) or all(
            r["n_sample"] >= 2 for r in rows
        )

    def test_row_count_fixed_by_max_hamming(self, spark):
        df = _fp_df(spark, [0, 1 << 40, 3 << 20])
        out = D.hamming_density_probe(df, "fp", max_hamming=6, sample_mod=1)
        assert out.count() == 7


class TestGuidedMaxHamming:
    def test_keeps_requested_when_sparse(self, spark):
        # 3 well-separated prints; any budget >= 3 keeps requested
        df = _fp_df(spark, [0, (1 << 60) - 1, 0b101010])
        got = D.guided_max_hamming(
            df, "fp", requested=4, pair_budget=100, sample_mod=1
        )
        assert got == 4

    def test_tightens_on_dense_corpus(self, spark):
        # 30 identical prints (435 exact pairs) + 3 singletons at
        # growing distance. Cumulative: d=0 → 435; d=1 → 467 (30
        # zero~1 pairs + 1~3 + 3~7); d=2 → 498 (30 zero~3 + 1~7);
        # d=3 → 528 (30 zero~7). Budget 500 admits d<=2 only.
        prints = [0] * 30 + [0b1, 0b11, 0b111]
        df = _fp_df(spark, prints)
        got = D.guided_max_hamming(
            df, "fp", requested=3, pair_budget=500, sample_mod=1
        )
        assert got == 2

    def test_fail_policy_raises(self, spark):
        df = _fp_df(spark, [0] * 30 + [0b1])
        with pytest.raises(D.DensityBudgetExceeded):
            D.guided_max_hamming(
                df,
                "fp",
                requested=2,
                pair_budget=440,
                policy="fail",
                sample_mod=1,
            )

    def test_warns_and_floors_when_saturated(self, spark):
        # even exact-dup pairs blow the budget → warn + return 0
        df = _fp_df(spark, [7] * 50)
        with pytest.warns(UserWarning, match="dup-saturated"):
            got = D.guided_max_hamming(
                df, "fp", requested=2, pair_budget=10, sample_mod=1
            )
        assert got == 0

    def test_bad_policy_rejected(self, spark):
        df = _fp_df(spark, [0, 1])
        with pytest.raises(ValueError):
            D.guided_max_hamming(df, "fp", policy="ignore")


class TestBucketStatsAutoWarning:
    def test_warns_on_capped_auto(self, spark):
        df = _fp_df(spark, [0, 1, 2, 3])
        with pytest.warns(UserWarning, match="explicit clean_blocks"):
            D.hamming_bucket_stats(
                df, "fp", id_col="doc_id", max_bucket_size=10
            ).collect()

    def test_silent_with_explicit_depth(self, spark, recwarn):
        df = _fp_df(spark, [0, 1, 2, 3])
        D.hamming_bucket_stats(
            df, "fp", id_col="doc_id", max_bucket_size=10, clean_blocks=1
        ).collect()
        assert not [w for w in recwarn if issubclass(w.category, UserWarning)]


class TestSuggestSkewKnobs:
    def _report(self, spark, values):
        from ukis_h3cellstore_spark.ops.report import key_skew_report

        df = spark.createDataFrame([(v,) for v in values], "k string")
        return key_skew_report(df, ["k"], top_n=3)

    def test_balanced_key_accepted(self, spark):
        from ukis_h3cellstore_spark.ops.report import suggest_skew_knobs

        # 20 distinct values, 5% each → top share 50‰, under the cap
        values = [f"v{i}" for i in range(20) for _ in range(5)]
        k = suggest_skew_knobs(self._report(spark, values))["k"]
        assert k["usable_block_key"] and k["num_salts"] == 1
        assert k["n_distinct"] == 20 and k["top_share_milli"] == 50

    def test_hot_key_salted(self, spark):
        from ukis_h3cellstore_spark.ops.report import suggest_skew_knobs

        # one value holds 50% → share 500‰ → salts: 500>100→2,
        # 500>200→4, 500>400→8, 500>800 no → 8
        values = ["hot"] * 50 + [f"v{i}" for i in range(50)]
        k = suggest_skew_knobs(self._report(spark, values))["k"]
        assert not k["usable_block_key"]
        assert k["num_salts"] == 8 and k["top_value"] == "hot"

    def test_salt_cap(self, spark):
        from ukis_h3cellstore_spark.ops.report import suggest_skew_knobs

        values = ["hot"] * 99 + ["cold"]  # 990‰
        k = suggest_skew_knobs(
            self._report(spark, values), max_share_milli=10, num_salts_cap=16
        )["k"]
        assert k["num_salts"] == 16  # capped, not 128


class TestFuzzyJoinSkewGuard:
    def test_raises_on_hot_block(self, spark):
        from ukis_h3cellstore_spark.ops.joins import BlockSkewExceeded, fuzzy_join

        rows = [(i, "common suffix%d" % i) for i in range(40)]
        df = spark.createDataFrame(rows, "name_id long, p_name string")
        with pytest.raises(BlockSkewExceeded, match="common"):
            fuzzy_join(
                df, df, "p_name", "name_id", max_block_share_milli=500
            ).collect()

    def test_passes_under_cap_same_result(self, spark):
        from ukis_h3cellstore_spark.ops.joins import fuzzy_join

        rows = [
            (1, "alpha one"), (2, "alpha onf"), (3, "beta two"),
            (4, "beta twq"), (5, "gamma three"), (6, "delta four"),
        ]
        df = spark.createDataFrame(rows, "name_id long, p_name string")
        unguarded = sorted(
            (r["id_a"], r["id_b"])
            for r in fuzzy_join(df, df, "p_name", "name_id").collect()
        )
        guarded = sorted(
            (r["id_a"], r["id_b"])
            for r in fuzzy_join(
                df, df, "p_name", "name_id", max_block_share_milli=500
            ).collect()
        )
        assert guarded == unguarded == [(1, 2), (3, 4)]


class TestHierarchicalPolyfill:
    FIXTURES = {
        "sf": (
            [[(-122.4089866999972145, 37.813318999983238),
              (-122.3805436999997056, 37.7866302000007224),
              (-122.3544736999993603, 37.7198061999978478),
              (-122.5123436999983966, 37.7076131999975672),
              (-122.5247187000021967, 37.7835871999971715),
              (-122.4798767000009008, 37.8151571999998453),
              (-122.4089866999972145, 37.813318999983238)]],
            7,
        ),
        "antimeridian": (
            [[(170, -10), (-170, -10), (-170, 10), (170, 10), (170, -10)]],
            4,
        ),
        "south_cap": (
            [[(0, -80), (60, -80), (120, -80), (180, -80), (-120, -80),
              (-60, -80), (0, -80)]],
            4,
        ),
        "pentagon_nbhd": (
            [[(58.1, 10.0), (58.9, 10.0), (58.9, 10.8), (58.1, 10.8),
              (58.1, 10.0)]],
            7,
        ),
    }

    @pytest.mark.parametrize("name", sorted(FIXTURES))
    def test_equals_flat_polyfill(self, name):
        from ukis_h3cellstore_spark.h3 import icosa

        rings, res = self.FIXTURES[name]
        flat = icosa.polygon_to_cells(rings, res)
        hier = icosa.polygon_to_cells_hierarchical(rings, res)
        assert hier == flat and len(flat) > 0

    def test_small_polygon_single_level_equals_flat(self):
        # when the target-res covering disk is already affordable the
        # hierarchical classifier starts at the target level: one
        # vectorized containment pass over the flat scan's disk
        from ukis_h3cellstore_spark.h3 import icosa

        rings, res = self.FIXTURES["sf"]
        assert icosa.polygon_to_cells_hierarchical(
            rings, res, max_level_candidates=10**9
        ) == icosa.polygon_to_cells(rings, res)

    def test_forced_hierarchical_on_tiny_budget(self):
        # force multi-level classification even for the small fixture
        from ukis_h3cellstore_spark.h3 import icosa

        rings, res = self.FIXTURES["sf"]
        assert icosa.polygon_to_cells_hierarchical(
            rings, res, max_level_candidates=40
        ) == icosa.polygon_to_cells(rings, res)


class TestDistributedPrefilter:
    def test_same_kept_set_as_chunked(self, spark, tmp_path):
        from ukis_h3cellstore_spark import (
            CellStore,
            CompactedTableSchemaBuilder,
        )
        from ukis_h3cellstore_spark import traversal as T
        from ukis_h3cellstore_spark.h3 import cells as h3c
        from ukis_h3cellstore_spark.query import TableSetQuery

        schema = (
            CompactedTableSchemaBuilder("pref_set")
            .h3_base_resolutions([4, 5, 6])
            .add_h3index_column()
            .add_column("value", "Int32")
            .build()
        )
        region_a = h3c.build_cell(60, [1, 2, 3, 4, 5])
        region_b = h3c.build_cell(60, [1, 2, 3, 4, 6])
        cells = h3c.cell_to_children(region_a, 6)
        store = CellStore(spark, str(tmp_path / "wh"))
        store.insert_h3dataframe_into_tableset(
            schema,
            spark.createDataFrame(
                [(c, i) for i, c in enumerate(cells)],
                "h3index long, value int",
            ),
        )
        f = TableSetQuery.from_template(
            "select * from <[table]> where value >= 0 "
            "and h3index in <[h3indexes]>"
        )
        trav = [region_a, region_b]
        chunked = T._prefilter_cells(store, "pref_set", trav, 5, f)
        # force the distributed path for the same 2-cell input
        orig = T.PREFILTER_DISTRIBUTED_MIN_CELLS
        T.PREFILTER_DISTRIBUTED_MIN_CELLS = 1
        try:
            distributed = T._prefilter_cells(store, "pref_set", trav, 5, f)
        finally:
            T.PREFILTER_DISTRIBUTED_MIN_CELLS = orig
        assert chunked == distributed == [region_a]


class TestTemplateBigCellList:
    def test_subquery_substitution_same_result(self, spark, tmp_path, monkeypatch):
        from ukis_h3cellstore_spark import (
            CellStore,
            CompactedTableSchemaBuilder,
        )
        from ukis_h3cellstore_spark import query as Q
        from ukis_h3cellstore_spark.h3 import cells as h3c
        from ukis_h3cellstore_spark.query import TableSetQuery

        schema = (
            CompactedTableSchemaBuilder("big_tmpl")
            .h3_base_resolutions([5, 6])
            .add_h3index_column()
            .add_column("value", "Int32")
            .build()
        )
        region = h3c.build_cell(60, [1, 2, 3, 4, 5])
        cells = h3c.cell_to_children(region, 6)
        store = CellStore(spark, str(tmp_path / "wh"))
        store.insert_h3dataframe_into_tableset(
            schema,
            spark.createDataFrame(
                [(c, i) for i, c in enumerate(cells)],
                "h3index long, value int",
            ),
        )
        f = TableSetQuery.from_template(
            "select h3index, value from <[table]> "
            "where h3index in <[h3indexes]> and value >= 3"
        )
        want = sorted(
            (r["h3index"], r["value"])
            for r in store.query_tableset_cells(
                "big_tmpl", cells, 6, query=f
            ).df.collect()
        )
        # force every cell list through the IN-subquery branch
        monkeypatch.setattr(Q, "MAX_INLIST_CELLS", 2)
        got = sorted(
            (r["h3index"], r["value"])
            for r in store.query_tableset_cells(
                "big_tmpl", cells, 6, query=f
            ).df.collect()
        )
        assert got == want and len(want) == len(cells) - 3


class TestDistributedPolyfill:
    def _check(self, spark, gi, res, multi=False):
        from ukis_h3cellstore_spark import geo

        want = geo.geometry_to_cells(gi, res)
        df = geo.geometry_to_cells_df(spark, gi, res)
        got = sorted(r["h3index"] for r in df.collect())
        assert got == want
        # single polygons must partition (no distinct needed)
        assert df.count() == len(want)

    def test_polygon_equality(self, spark):
        self._check(
            spark,
            {
                "type": "Polygon",
                "coordinates": [
                    [(-122.41, 37.81), (-122.35, 37.72), (-122.51, 37.71),
                     (-122.52, 37.78), (-122.41, 37.81)]
                ],
            },
            7,
        )

    def test_pentagon_area_equality(self, spark):
        from ukis_h3cellstore_spark.h3 import cells as h3c
        from ukis_h3cellstore_spark.h3 import icosa

        plat, plng = icosa.cell_to_latlng(h3c.build_cell(4, []))
        self._check(
            spark,
            {
                "type": "Polygon",
                "coordinates": [
                    [(plng - 3, plat - 3), (plng + 3, plat - 3),
                     (plng + 3, plat + 3), (plng - 3, plat + 3),
                     (plng - 3, plat - 3)]
                ],
            },
            4,
        )

    def test_multipolygon_overlap_dedup(self, spark):
        from ukis_h3cellstore_spark import geo

        gi = {
            "type": "MultiPolygon",
            "coordinates": [
                [[(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]],
                [[(1, 1), (3, 1), (3, 3), (1, 3), (1, 1)]],
            ],
        }
        want = geo.geometry_to_cells(gi, 5)
        df = geo.geometry_to_cells_df(spark, gi, 5)
        assert sorted(r["h3index"] for r in df.collect()) == want

    def test_non_polygon_fallback(self, spark):
        from ukis_h3cellstore_spark import geo

        gi = {"type": "Point", "coordinates": (11.5, 48.1)}
        df = geo.geometry_to_cells_df(spark, gi, 8)
        assert [r["h3index"] for r in df.collect()] == geo.geometry_to_cells(
            gi, 8
        )


class TestQueryCellsDf:
    @pytest.fixture()
    def dfq_store(self, spark, tmp_path):
        from ukis_h3cellstore_spark import (
            CellStore,
            CompactedTableSchemaBuilder,
        )
        from ukis_h3cellstore_spark.h3 import cells as h3c

        schema = (
            CompactedTableSchemaBuilder("dfq")
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

    def test_matches_list_api_both_directions(self, spark, dfq_store):
        from ukis_h3cellstore_spark.query import cells_frame

        store, region, cells7 = dfq_store
        # coarse probe cell, finer target (offset expansion in-plan)
        assert self._rows(
            store.query_tableset_cells_df(
                "dfq", cells_frame(spark, "h3index", [region]), 7
            )
        ) == self._rows(store.query_tableset_cells("dfq", [region], 7))
        # fine probe cells, coarser target (parent arithmetic in-plan)
        assert self._rows(
            store.query_tableset_cells_df(
                "dfq", cells_frame(spark, "h3index", cells7), 5
            )
        ) == self._rows(store.query_tableset_cells("dfq", cells7, 5))

    def test_templated_matches_list_api(self, spark, dfq_store):
        from ukis_h3cellstore_spark.query import TableSetQuery, cells_frame

        store, _region, cells7 = dfq_store
        t = TableSetQuery.from_template(
            "select * from <[table]> where value >= 3 "
            "and h3index in <[h3indexes]>"
        )
        assert self._rows(
            store.query_tableset_cells_df(
                "dfq", cells_frame(spark, "h3index", cells7), 7, query=t
            )
        ) == self._rows(
            store.query_tableset_cells("dfq", cells7, 7, query=t)
        )

    def test_empty_and_mixed_resolution_rejected(self, spark, dfq_store):
        from ukis_h3cellstore_spark.query import cells_frame

        store, region, cells7 = dfq_store
        with pytest.raises(ValueError, match="empty cell list"):
            store.query_tableset_cells_df(
                "dfq", cells_frame(spark, "h3index", []), 7
            )
        with pytest.raises(ValueError, match="uniform-resolution"):
            store.query_tableset_cells_df(
                "dfq",
                cells_frame(spark, "h3index", [region, cells7[0]]),
                7,
            )

    def test_traverse_apply_accepts_cell_frame(self, spark, dfq_store):
        from ukis_h3cellstore_spark import traversal as T
        from ukis_h3cellstore_spark.query import cells_frame

        store, region, cells7 = dfq_store

        def tile_count(pdf):
            import pandas as pd

            return pd.DataFrame(
                {
                    "tile": [int(pdf["__traversal_cell"].iloc[0])],
                    "n": [len(pdf)],
                }
            )

        opts = T.TraversalOptions(max_h3indexes_fetch_count=50)
        via_df = sorted(
            (r["tile"], r["n"])
            for r in T.traverse_apply(
                store, "dfq", cells_frame(spark, "h3index", [region]), 7,
                tile_count, "tile long, n long", options=opts,
            ).collect()
        )
        via_list = sorted(
            (r["tile"], r["n"])
            for r in T.traverse_apply(
                store, "dfq", [region], 7,
                tile_count, "tile long, n long", options=opts,
            ).collect()
        )
        assert via_df == via_list and via_df[0][1] == 49


    def test_all_invalid_list_rejected_as_empty(self, spark, dfq_store):
        # a list of only invalid cells is an empty cell set, as an
        # empty frame is (it used to fall through to "no tables
        # satisfy the query")
        store, _region, _cells7 = dfq_store
        with pytest.raises(ValueError, match="empty cell list"):
            store.query_tableset_cells("dfq", [0, 12345], 7)


class TestListFrameDifferential:
    """The list and the frame API are one pipeline over two cell-set
    backings; over random uniform-resolution cell sets they must return
    equal rows for every combination of: query kind (auto, a template
    with ``<[h3indexes]>``, one without), ``do_uncompact``, probe
    resolution coarser than / equal to / finer than the target, a set
    on a hexagon or on a pentagon base cell, ``query.MAX_INLIST_CELLS``
    at its default or patched to 2 (so the list side switches to
    semi-joins), and global or schema table layout."""

    TEMPLATES = {
        "auto": None,
        "cells": "select h3index, value from <[table]> "
        "where h3index in <[h3indexes]> and value >= 1",
        "no_cells": "select h3index, value from <[table]> where value >= 1",
    }

    @pytest.fixture(scope="class", params=["global", "schema"])
    def diff_store(self, request, spark, tmp_path_factory):
        from ukis_h3cellstore_spark import (
            CellStore,
            CompactedTableSchemaBuilder,
        )
        from ukis_h3cellstore_spark.h3 import cells as h3c

        schema = (
            CompactedTableSchemaBuilder("diffq")
            .h3_base_resolutions([4, 5, 6])
            .add_h3index_column()
            .add_column("value", "Int32")
            .build()
        )
        # res-3 regions: one on hexagon base cell 60, one centred on
        # pentagon base cell 4; values are uniform per res-5 parent
        # (hexagon) or per region (pentagon), so both compact
        regions = {
            False: h3c.build_cell(60, [1, 2, 3]),
            True: h3c.build_cell(4, [0, 0, 0]),
        }
        rows = [
            (c, h3c.get_digit(c, 5) % 3)
            for c in h3c.cell_to_children(regions[False], 6)
        ] + [(c, 2) for c in h3c.cell_to_children(regions[True], 6)]
        store = CellStore(
            spark,
            str(tmp_path_factory.mktemp("diffq")),
            auto_partitioning=request.param == "global",
        )
        store.insert_h3dataframe_into_tableset(
            schema, spark.createDataFrame(rows, "h3index long, value int")
        )
        return store, regions

    def test_list_and_frame_agree(self, spark, diff_store):
        import itertools
        from unittest import mock

        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from ukis_h3cellstore_spark import query as Q
        from ukis_h3cellstore_spark.h3 import cells as h3c
        from ukis_h3cellstore_spark.query import TableSetQuery, cells_frame

        store, regions = diff_store

        def rows(h3df):
            return sorted(
                (r["h3index"], r["value"])
                for r in h3df.df.select("h3index", "value").collect()
            )

        combos = list(
            itertools.product(
                self.TEMPLATES.values(),
                (True, False),  # do_uncompact
                (-1, 0, 1),  # probe resolution relative to the target
                (False, True),  # pentagon region
                (Q.MAX_INLIST_CELLS, 2),
            )
        )

        @given(data=st.data())
        @settings(
            max_examples=1,
            deadline=None,
            suppress_health_check=list(HealthCheck),
        )
        def prop(data):
            for template, uncompact, rel, pentagon, inlist in combos:
                target = data.draw(st.sampled_from([5, 6]))
                pool = h3c.cell_to_children(regions[pentagon], target + rel)
                cells = data.draw(
                    st.lists(
                        st.sampled_from(pool), min_size=1, max_size=5, unique=True
                    )
                )
                query = template and TableSetQuery.from_template(template)
                with mock.patch.object(Q, "MAX_INLIST_CELLS", inlist):
                    via_list = store.query_tableset_cells(
                        "diffq", cells, target, query, uncompact
                    )
                    via_frame = store.query_tableset_cells_df(
                        "diffq",
                        cells_frame(spark, "h3index", cells),
                        target,
                        query,
                        uncompact,
                    )
                    assert rows(via_list) == rows(via_frame), (
                        template, uncompact, rel, pentagon, inlist, target, cells
                    )

        prop()


class TestSimhashGuard:
    def test_guarded_matches_unguarded_when_sparse(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "alpha beta gamma delta zeta"),
                (3, "one two three four five six"),
                (4, "completely different words here now"),
            ],
            "doc_id long, text string",
        )
        plain = sorted(
            (r["id_a"], r["id_b"])
            for r in D.simhash_hamming_pairs(docs, max_hamming=3).collect()
        )
        guarded = sorted(
            (r["id_a"], r["id_b"])
            for r in D.simhash_hamming_pairs(
                docs, max_hamming=3, pair_budget=1000
            ).collect()
        )
        assert guarded == plain

    def test_fail_policy_on_dup_saturated(self, spark):
        docs = spark.createDataFrame(
            [(i, "same text everywhere") for i in range(30)],
            "doc_id long, text string",
        )
        with pytest.raises(D.DensityBudgetExceeded):
            D.simhash_hamming_pairs(
                docs, max_hamming=3, pair_budget=10, density_policy="fail"
            ).collect()


class TestTraverseApplyResolution:
    def test_coarser_groups_same_totals(self, spark, tmp_path):
        from ukis_h3cellstore_spark import (
            CellStore,
            CompactedTableSchemaBuilder,
        )
        from ukis_h3cellstore_spark import traversal as T
        from ukis_h3cellstore_spark.h3 import cells as h3c

        schema = (
            CompactedTableSchemaBuilder("tar")
            .h3_base_resolutions([4, 5, 6])
            .add_h3index_column()
            .add_column("value", "Int32")
            .build()
        )
        region = h3c.build_cell(60, [1, 2, 3, 4])  # res 4
        cells6 = h3c.cell_to_children(region, 6)
        store = CellStore(spark, str(tmp_path / "wh"))
        store.insert_h3dataframe_into_tableset(
            schema,
            spark.createDataFrame(
                [(c, 1) for c in cells6], "h3index long, value int"
            ),
        )

        def tile_sum(pdf):
            import pandas as pd

            return pd.DataFrame(
                {
                    "tile": [int(pdf["__traversal_cell"].iloc[0])],
                    "n": [len(pdf)],
                }
            )

        opts = T.TraversalOptions(max_h3indexes_fetch_count=50)
        # traversal res 5 (7^1=7<=50... 7^(6-4)=49<=50 → trav res 4):
        # default grouping = trav cells; apply_resolution=4 regroups
        fine = T.traverse_apply(
            store, "tar", [region], 6, tile_sum, "tile long, n long",
            options=T.TraversalOptions(max_h3indexes_fetch_count=7),
        ).collect()  # trav res 5 → 7 tiles of 7
        coarse = T.traverse_apply(
            store, "tar", [region], 6, tile_sum, "tile long, n long",
            options=T.TraversalOptions(max_h3indexes_fetch_count=7),
            apply_resolution=4,
        ).collect()  # one group holding all 49
        assert sum(r["n"] for r in fine) == sum(r["n"] for r in coarse) == 49
        assert len(fine) == 7 and len(coarse) == 1
        with pytest.raises(T.TraversalError, match="finer"):
            T.traverse_apply(
                store, "tar", [region], 6, tile_sum, "tile long, n long",
                options=T.TraversalOptions(max_h3indexes_fetch_count=7),
                apply_resolution=6,
            )


class TestMinhashBucketStats:
    def _docs(self, spark):
        rows = [
            (i, "the same boilerplate body of text here") for i in range(10)
        ] + [
            (100 + i, f"unique document number {i} with words w{i} x{i}")
            for i in range(5)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_candidate_volume_exact(self, spark):
        docs = self._docs(spark)
        stats = D.minhash_bucket_stats(docs).collect()
        # 10 identical docs collide in EVERY band: 4 buckets of 10 =
        # 4 * C(10,2) = 180 candidate pairs from the dup block
        dup = [r for r in stats if r["n_docs"] == 10]
        assert len(dup) == 4
        assert all(r["candidate_pairs"] == 45 for r in dup)
        assert all(not r["dropped"] for r in stats)

    def test_cap_drops_hot_bucket_and_join_respects_it(self, spark):
        docs = self._docs(spark)
        stats = D.minhash_bucket_stats(docs, max_bucket_size=5).collect()
        assert all(r["dropped"] == (r["n_docs"] > 5) for r in stats)
        uncapped = D.minhash_lsh_pairs(docs, min_est_jaccard=0.25)
        capped = D.minhash_lsh_pairs(
            docs, min_est_jaccard=0.25, max_bucket_size=5
        )
        pu = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
        pc = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        # capped pairs are a subset; the hot identical block (every
        # band bucket > 5) vanishes entirely
        assert pc <= pu
        assert all(a >= 100 or b >= 100 for a, b in pc)
        assert len(pu) >= 45
