"""Pin the src-hash-gated sweep-provenance carry rule (VERDICT r10 ask #4).

The 100x sweep artifact may carry a prior round's proof for a key ONLY
when the key's operator source (function body + oracle SQL) AND its
defining module file, with the helper modules it imports from, are
hash-identical to what the prior run covered;
anything else must be re-run or explicitly overridden. These tests pin
tools/sweep.assemble (the pure core), the rows-only merge refusal
and registry.src_hashes.
"""

from __future__ import annotations

import json

from tools.sweep import assemble, load_results

H_A = {"src_hash": "aaaa", "mod_hash": "mmmm"}
H_B = {"src_hash": "bbbb", "mod_hash": "mmmm"}
H_A_MOD = {"src_hash": "aaaa", "mod_hash": "nnnn"}

ENTRY = {"hash_match": True, "rows_match": True, "provenance": "r10 run"}


def test_unchanged_key_is_carried_with_stamp():
    merged, refused = assemble(
        prior={"q": dict(ENTRY)},
        prior_hashes={"q": H_A},
        parts={},
        overrides={},
        current_hashes={"q": dict(H_A)},
    )
    assert refused == []
    assert merged["q"]["src_hash"] == "aaaa"
    assert merged["q"]["mod_hash"] == "mmmm"
    assert "carried: r10 run" in merged["q"]["provenance"]
    assert "(src+mod hash unchanged)" in merged["q"]["provenance"]


def test_src_change_refuses_carry():
    merged, refused = assemble(
        {"q": dict(ENTRY)}, {"q": H_A}, {}, {}, {"q": dict(H_B)}
    )
    assert refused == ["q"]
    assert "q" not in merged


def test_module_helper_change_refuses_carry():
    """Same function body, different module file — helpers may have
    changed, so the carry is refused too."""
    merged, refused = assemble(
        {"q": dict(ENTRY)}, {"q": H_A}, {}, {}, {"q": dict(H_A_MOD)}
    )
    assert refused == ["q"]


def test_missing_prior_hash_refuses_carry():
    merged, refused = assemble(
        {"q": dict(ENTRY)}, {}, {}, {}, {"q": dict(H_A)}
    )
    assert refused == ["q"]


def test_unregistered_key_refuses_carry():
    merged, refused = assemble(
        {"q": dict(ENTRY)}, {"q": H_A}, {}, {}, {}
    )
    assert refused == ["q"]


def test_fresh_part_supersedes_and_is_stamped():
    fresh = {"hash_match": True, "rows_match": True}
    merged, refused = assemble(
        {"q": dict(ENTRY)}, {"q": H_A}, {"q": fresh}, {}, {"q": dict(H_B)}
    )
    assert refused == []
    assert merged["q"]["provenance"] == "fresh run this round"
    assert merged["q"]["src_hash"] == "bbbb"


def test_override_requires_explicit_provenance():
    import pytest

    ov = {"hash_match": True, "rows_match": True}
    with pytest.raises(SystemExit):
        assemble({"q": dict(ENTRY)}, {"q": H_A}, {}, {"q": ov}, {"q": H_B})
    ov2 = {**ov, "provenance": "re-proof recorded in X"}
    merged, refused = assemble(
        {"q": dict(ENTRY)}, {"q": H_A}, {}, {"q": ov2}, {"q": dict(H_B)}
    )
    assert merged["q"]["override"] is True
    assert refused == []


def test_carry_is_idempotent_across_rounds():
    """Re-assembling an already-carried entry must not re-wrap the
    provenance string (r11 -> r12 -> ... stays one level deep)."""
    merged1, _ = assemble(
        {"q": dict(ENTRY)}, {"q": H_A}, {}, {}, {"q": dict(H_A)}
    )
    merged2, refused = assemble(
        merged1,
        {"q": H_A},
        {},
        {},
        {"q": dict(H_A)},
    )
    assert refused == []
    assert merged2["q"]["provenance"].count("carried:") == 1


def test_rows_only_part_is_refused(tmp_path):
    """A rows-only part (a weaker gate: no values compared) never merges
    into a hash-sweep artifact, in either artifact form."""
    import pytest

    ro = {"status": "pass", "mode": "rows-only", "rows_match": True,
          "schema_match": None, "hash_match": None}
    for form in ({"q": ro}, {"what": "", "results": {"q": ro}}):
        p = tmp_path / "part.json"
        p.write_text(json.dumps(form))
        with pytest.raises(SystemExit, match="rows-only"):
            load_results(str(p))
    p.write_text(json.dumps({"results": {"q": dict(ENTRY)}}))
    assert load_results(str(p)) == {"q": ENTRY}


def test_registry_src_hashes_cover_every_key_and_react_to_source():
    from c2_duckdb_runner_spark.registry import src_hashes, queries

    h = src_hashes()
    qs = queries()
    assert set(h) == set(qs)
    for v in h.values():
        assert len(v["src_hash"]) == 16
        assert len(v["mod_hash"]) == 16
        assert v["module"].startswith("c2_duckdb_runner_spark/")
    # two different operators in the same module share mod_hash but not
    # src_hash (distinct function bodies)
    a = h["scan_dir_enumerate"]
    b = h["project_star"]
    assert a["module"] == b["module"]
    assert a["mod_hash"] == b["mod_hash"]
    assert a["src_hash"] != b["src_hash"]


def test_mod_hash_covers_imported_helper_modules(monkeypatch):
    """A key's mod_hash changes when a helper module its module imports
    from changes (rates_portmanteau_ext imports inference_ext's daily
    series kit); a key whose module imports no helper module keeps it."""
    from c2_duckdb_runner_spark import registry

    before = registry.src_hashes()
    read = registry._read_source
    monkeypatch.setattr(
        registry,
        "_read_source",
        lambda path: read(path) + (b"\n# edited\n" if path.endswith(
            "operators/inference_ext.py") else b""),
    )
    after = registry.src_hashes()
    assert after["ts_ljung_box"]["module"].endswith("rates_portmanteau_ext.py")
    assert after["ts_ljung_box"]["mod_hash"] != before["ts_ljung_box"]["mod_hash"]
    assert after["ts_ljung_box"]["src_hash"] == before["ts_ljung_box"]["src_hash"]
    assert after["ts_autocorr_lags"]["mod_hash"] != before["ts_autocorr_lags"]["mod_hash"]
    # tier_a imports only infrastructure (registry, tables)
    assert after["scan_dir_enumerate"] == before["scan_dir_enumerate"]
