"""Registry loader behavior (VERDICT r1 item 7, tightened r13): EVERY
listed plan module must import — the early-rounds "not written yet"
tolerance would now let a deleted/renamed module silently drop all its
queries from the correctness gate; duplicate registrations are equally
loud (a silent overwrite shadows a query forever)."""

from __future__ import annotations

import builtins
import sys

import pytest

from eprints_to_hyku_data_tool_spark.plans import registry


def _run_load_with_fake_import(monkeypatch, effect):
    """Route the import of one phantom plan module through `effect`."""
    phantom = f"{registry.__package__}.q_joins"
    real_import = builtins.__import__

    def fake_import(name, *args, **kwargs):
        if name == phantom:
            return effect(name)
        return real_import(name, *args, **kwargs)

    monkeypatch.setattr(builtins, "__import__", fake_import)
    monkeypatch.delitem(sys.modules, phantom, raising=False)
    registry._load_all()


def test_missing_module_fails_loudly(monkeypatch):
    """A listed module that cannot be found is a gate-shrinking event
    (deleted/renamed module -> its queries vanish), not an incremental-
    build state — all 22 modules exist; the grace period is over."""

    def missing(name):
        raise ModuleNotFoundError(f"No module named '{name}'", name=name)

    with pytest.raises(ModuleNotFoundError, match="q_joins"):
        _run_load_with_fake_import(monkeypatch, missing)


def test_duplicate_registration_fails_loudly():
    """register() must never silently overwrite: the shadowed query
    would vanish from queries()/oracle_sql() and the parity suite."""
    registry._load_all()
    existing = next(iter(registry.REGISTRY))
    with pytest.raises(ValueError, match="duplicate query registration"):

        @registry.register(existing, oracle="SELECT 1")
        def clone(spark, sf_dir):  # pragma: no cover - never runs
            raise AssertionError


def test_broken_internal_import_propagates(monkeypatch):
    def broken(name):
        # the module EXISTS but an import inside it is broken
        raise ModuleNotFoundError(
            "No module named 'numpyy'", name="numpyy"
        )

    with pytest.raises(ModuleNotFoundError, match="numpyy"):
        _run_load_with_fake_import(monkeypatch, broken)


def test_priority_tier_fits_driver_window():
    """The driver verifies only the first 50 sorted names (round-2 finding).
    Every q*/x* query must land inside that window (<= 50 priority names);
    y-tier = overflow added after the window filled (rotation candidates);
    z-tier = queries an earlier round's driver verified green. Both stay
    oracle-checked by the local parity mirror. Unfilled window slots fall
    to y/z names, which simply get re-verified — never wasted."""
    registry._load_all()
    names = sorted(registry.REGISTRY)
    window = set(names[:50])
    priority = {n for n in names if n[0] not in "yz"}
    assert priority <= window, sorted(priority - window)
    assert len(priority) <= 50, len(priority)
    for n in names:
        assert n[0] in "qxyz", n


# SURVEY.md §2 component -> the registered query that carries it today
# (tier rotations rename queries between rounds; this map is the single
# place that must stay current, and it guards against a rotation silently
# dropping a §2 component from the registry). None = no SQL oracle is
# possible by design; the component is covered by the named test module
# instead of a registered query.
SECTION2_MAP = {
    "Q01": "q901_scan_count", "Q02": "q902_scan_pushdown",
    "Q03": "q903_project_compute", "Q04": "q904_compound_predicate",
    "Q05": "q905_in_like_null", "Q06": "q906_distinct",
    "Q07": "q907_case_when", "Q08": "q908_inner_join",
    "Q09": "q909_broadcast_join", "Q10": "z13910_left_outer_join",
    "Q11": "z13911_full_outer_join", "Q12": "z13912_semi_join",
    "Q13": "z13913_anti_join", "Q14": "z13914_cross_join",
    "Q15": "z13915_range_join", "Q16": "z13916_asof_join",
    "Q17": "z13917_self_join_pairs", "Q18": "z13918_similarity_join",
    "Q19": "q10619_groupby_multi_agg", "Q20": "q10620_global_agg",
    "Q21": "q10621_count_distinct", "Q22": "q10622_approx_count_distinct",
    "Q23": "q10623_rollup", "Q24": "q10624_cube", "Q25": "q10625_bulkrax_fold",
    "Q26": "z11626_pivot", "Q27": "z11627_percentiles", "Q28": "q10628_stats",
    "Q29": "q10629_conditional_agg", "Q30": "z10630_mixed_distinct",
    "Q31": "z10631_keepfirst_dedupe", "Q32": "z10632_topk_per_group",
    "Q33": "z10633_lag_lead", "Q34": "z10634_running_sum",
    "Q35": "z10635_range_frame", "Q36": "z10636_ntile_first_last",
    "Q37": "z1210637_multikey_sort", "Q38": "z10638_global_topk",
    "Q39": "z10639_limit_offset", "Q40": "z10640_union",
    "Q41": "z10641_intersect", "Q42": "z10642_except",
    "Q43": "z10643_string_kit", "Q44": "z10644_regex_extract",
    "Q45": "z10645_fuzzy_match", "Q46": "z10646_date_kit",
    "Q47": "z10647_math_kit", "Q48": "z10648_array_kit",
    "Q49": "z10649_map_kit", "Q50": "z10650_json_kit",
    "Q51": "z10651_hash_ids", "Q52": "z10652_null_kit",
    "Q53": "z10653_cast_kit", "Q54": "z10654_tumbling_window",
    "Q55": "z10655_sliding_window", "Q56": "z10656_session_window",
    "Q57": "z11657_scalar_pandas_udf", "Q58": "z11658_grouped_map",
    "Q59": "z11659_exact_dedupe", "Q60": "z11660_minhash_lsh",
    "Q61": "z11661_topk_similarity", "Q62": "z11662_text_stats",
    "X01": None,  # CSV/ORC source — tests/test_etl.py
    "X02": None,  # JSON source — tests/test_etl.py
    "X03": None,  # XML (EP3) source — tests/test_etl.py
    "X04": None,  # JDBC source/sink — tests/test_etl.py Derby round-trip
    "X05": None,  # Bulkrax CSV sink — tests/test_etl.py golden files
    "X06": None,  # partitioned parquet sink — tests/test_etl.py
    "X07": None,  # streaming source/sink — tests/test_streaming.py
    "X08": None,  # watermark/late data — tests/test_streaming.py
    "X09": None,  # streaming dedupe — tests/test_streaming.py
    "X10": None,  # stream-static join — tests/test_streaming.py
    "X11": None,  # stateful processing — tests/test_streaming.py
    "X12": "z12781_grouped_agg_udaf", "X13": "z12782_mapinpandas_shred",
    "X14": "z12783_sql_registered_udf", "X15": "z11784_tfidf",
}


def test_every_section2_component_registered():
    registry._load_all()
    missing = {
        cid: name
        for cid, name in SECTION2_MAP.items()
        if name is not None and name not in registry.REGISTRY
    }
    assert not missing, f"§2 components with no live registration: {missing}"
    assert len(SECTION2_MAP) == 77


def test_every_query_has_unique_registration():
    registry._load_all()
    names = list(registry.REGISTRY)
    assert len({registry.suffix(n) for n in names}) == len(names)
    # every oracle-paired entry has non-empty SQL
    for name, spec in registry.REGISTRY.items():
        if spec.oracle is not None:
            assert "SELECT" in spec.oracle.upper(), name


def test_duplicate_suffix_fails_loudly():
    """The suffix is a query's identity: a new prefix on a registered
    suffix is a second query claiming the first one's history."""
    registry._load_all()
    existing = registry.flagship_name()
    with pytest.raises(ValueError, match="groupby_multi_agg"):

        @registry.register("y999_" + registry.suffix(existing), oracle="SELECT 1")
        def clone(spark, sf_dir):  # pragma: no cover - never runs
            raise AssertionError

    assert "y999_groupby_multi_agg" not in registry.REGISTRY


def test_every_z_name_has_green_driver_ancestor():
    """Every z-tier query must have a fully green driver row under its
    suffix in some round. A z-name without one is an unverified query
    hiding in the verified tier and must stay in the q/x window instead."""
    from rotation_planner import freshness  # tools/ on sys.path (conftest)

    registry._load_all()
    fresh = freshness(sorted(registry.REGISTRY))
    orphans = {n for n in registry.REGISTRY if n.startswith("z") and not fresh[n]}
    assert not orphans, f"z-names with no green driver row in any round: {orphans}"
