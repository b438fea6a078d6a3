"""Leak discipline for derived on-disk layouts (review findings r4/r5/r6).

derived_layout_path must: key on (appId, sf tag, fixture fingerprint),
prune stale same-prefix/same-tag siblings, NOT cross-prune other scale
factors (tag prefix collisions) or other PREFIXES (a prefix spelled as a
"_"-extension of another), and register everything for atexit cleanup.
scratch_dir must register its mkdtemp the same way."""

from __future__ import annotations

import os

from spark_streaming_clustering_spark.sources import tables as T


def _fam(tmp_path, prefix):
    return tmp_path / "spark_graft_layouts" / prefix


def test_derived_layout_prunes_stale_siblings(spark, sf_dir, tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    fam = _fam(tmp_path, "probe_pfx")
    fam.mkdir(parents=True)
    stale = fam / f"deadapp_{T.sf_tag(sf_dir)}_1_2"
    stale.mkdir()
    (stale / "part-0").write_text("x")
    out = T.derived_layout_path(spark, "probe_pfx", sf_dir, "events")
    assert not stale.exists()  # dead session's copy reclaimed
    assert os.path.dirname(out) == str(fam)
    assert T.sf_tag(sf_dir) in os.path.basename(out)
    assert out in T._SESSION_TMP_PATHS  # atexit-cleaned


def test_derived_layout_does_not_cross_prune_other_sf(spark, sf_dir, tmp_path, monkeypatch):
    """sf tags can be string-prefixes of each other (sf0_1 / sf0_12);
    pruning must match the tag EXACTLY or a live other-sf layout dies."""
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    tag = T.sf_tag(sf_dir)
    fam = _fam(tmp_path, "probe2")
    fam.mkdir(parents=True)
    other = fam / f"otherapp_{tag}2_10_20"  # tag+'2' = longer tag
    other.mkdir()
    shorter = fam / f"otherapp_{tag[:-1]}_10_20"  # tag minus last ch
    shorter.mkdir()
    T.derived_layout_path(spark, "probe2", sf_dir, "events")
    assert other.exists() and shorter.exists()


def test_derived_layout_does_not_cross_prune_other_prefix(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Pruning for prefix X must never touch a layout of prefix X_y
    (review finding r6: the flat glob "X_*" + a greedy appId slot
    absorbed the extension and rmtree'd live sibling-family layouts)."""
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    tag = T.sf_tag(sf_dir)
    ext_fam = _fam(tmp_path, "probe_ext_by_day")
    ext_fam.mkdir(parents=True)
    live = ext_fam / f"otherapp_{tag}_10_20"
    live.mkdir()
    (live / "part-0").write_text("x")
    T.derived_layout_path(spark, "probe_ext", sf_dir, "events")
    assert live.exists()  # other-prefix family untouched


def test_derived_layout_keeps_own_path_and_same_session_other_sf(
    spark, tmp_path, monkeypatch
):
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    a = T.derived_layout_path(spark, "probe3", "/root/testdata/sf0.001", "events")
    os.makedirs(a, exist_ok=True)
    b = T.derived_layout_path(spark, "probe3", "/root/testdata/sf0.01", "events")
    # different sf -> different path, and deriving b must not prune a
    assert a != b and os.path.isdir(a)
    # re-deriving a returns the identical path and leaves it intact
    assert T.derived_layout_path(spark, "probe3", "/root/testdata/sf0.001", "events") == a
    assert os.path.isdir(a)


def test_scratch_dir_tracked_for_cleanup():
    p = T.scratch_dir("probe_scratch_")
    assert os.path.isdir(p) and p in T._SESSION_TMP_PATHS


def test_fingerprint_in_path_invalidates_on_fixture_change(spark, tmp_path, monkeypatch):
    """The path embeds the source fingerprint: same prefix+sf with a
    different fingerprint must map to a different directory (stale
    layout can never be read back after a fixture regen)."""
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    real = T.source_fingerprint("/root/testdata/sf0.001", "events")
    out = T.derived_layout_path(spark, "probe4", "/root/testdata/sf0.001", "events")
    assert real in os.path.basename(out)
