"""The build-once artifact lifecycle (``ann_index.build_once``) and its
age- and serve-aware GC of tmp artifact dirs: a mis-glob or mis-aged
sweep here deletes a served index mid-session, so the policy is pinned
by test:

- ``.build-*`` orphans: reaped after 1 h (crashed-builder leak class);
- published fingerprint dirs: reaped only after 24 h WITHOUT a serve
  (every serve touches the dir mtime);
- the dir being (re)built and non-matching prefixes: never touched.
"""

from __future__ import annotations

import os
import time

import pytest

from pride_spark.operators.ann_index import (
    _gc_tmp_siblings,
    _publish_build,
    _touch_served,
    build_once,
)

PFX = "pride_spark_ivfpq_v2_"


def _mk(tmp, name, age_sec):
    d = tmp / name
    d.mkdir()
    (d / "part-0000.parquet").write_text("x")
    old = time.time() - age_sec
    os.utime(d, (old, old))
    return d


def test_gc_policy(tmp_path):
    keep = _mk(tmp_path, f"{PFX}current", 90_000)  # the dir being rebuilt
    young_build = _mk(tmp_path, f"{PFX}aaaa.build-123", 60)     # in-progress
    old_build = _mk(tmp_path, f"{PFX}bbbb.build-456", 7_200)    # crashed
    young_pub = _mk(tmp_path, f"{PFX}cccc", 7_200)              # served 2h ago
    old_pub = _mk(tmp_path, f"{PFX}dddd", 90_000)               # abandoned >24h
    other = _mk(tmp_path, "some_other_dir", 90_000)             # foreign prefix

    _gc_tmp_siblings(str(tmp_path), PFX, keep.name)

    assert keep.exists(), "the dir being rebuilt must never be swept"
    assert young_build.exists(), "in-progress .build-* (<1h) must survive"
    assert not old_build.exists(), ".build-* orphan (>1h) must be reaped"
    assert young_pub.exists(), "published dir served <24h ago must survive"
    assert not old_pub.exists(), "published dir idle >24h must be reaped"
    assert other.exists(), "non-matching prefixes must never be touched"


def test_serve_touch_resets_gc_clock(tmp_path):
    served = _mk(tmp_path, f"{PFX}eeee", 90_000)  # idle long enough to reap
    _touch_served(str(served))                    # ... but it just got served
    _gc_tmp_siblings(str(tmp_path), PFX, f"{PFX}other")
    assert served.exists(), "a serve-touch must reset the 24h GC window"
    # and _touch_served on a missing path is a no-op, not an error
    _touch_served(str(tmp_path / "does_not_exist"))


def test_q45_sets_fixture_keyed_by_lineitem_content(spark, tmp_path):
    """r11: the q45 PSM-set fixture must rebuild when the lineitem table
    is regenerated at the same path — the content fingerprint (names,
    sizes, mtimes) is the staleness contract, and a stale hit would
    silently serve the OLD corpus's sets to every later run."""
    import os
    import shutil
    import time

    from pride_spark.registry import q45_sets_path

    sf = tmp_path / "sf"
    sf.mkdir()
    src = "/root/testdata/sf0.001/lineitem.parquet"
    dst = str(sf / "lineitem.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copyfile)(src, dst)

    p1 = q45_sets_path(spark, str(sf))
    assert os.path.isdir(p1)
    n1 = spark.read.parquet(p1).count()
    assert n1 > 0
    # memo/path hit on unchanged content
    assert q45_sets_path(spark, str(sf)) == p1

    # regenerate the corpus at the same path (mtime changes => new key)
    time.sleep(0.01)
    target = dst if os.path.isfile(dst) else os.path.join(
        dst, sorted(f for f in os.listdir(dst) if not f.startswith("."))[0]
    )
    os.utime(target, None)
    p2 = q45_sets_path(spark, str(sf))
    assert p2 != p1, "regenerated corpus must get a fresh sets build"
    assert spark.read.parquet(p2).count() == n1  # same data -> same sets


def test_publish_build_reraises_when_nothing_published(tmp_path):
    """r11 advice: a failed publish rename was always read as 'a
    concurrent builder won' and the build discarded — if the rename
    failed for a REAL reason (permissions, cross-device tmp, build dir
    never landed locally) a nonexistent path was served and surfaced
    later as a baffling parquet-read error.  Now: rename-loser only
    when the published dir actually exists; re-raise otherwise."""
    # real failure: the build dir does not exist, target not published
    missing_build = str(tmp_path / "nope.build-abc")
    target = str(tmp_path / "published")
    with pytest.raises(OSError):
        _publish_build(missing_build, target)

    # benign loss: target already published (non-empty => ENOTEMPTY)
    build = tmp_path / "mine.build-def"
    build.mkdir()
    (build / "part").write_text("x")
    os.makedirs(target)
    with open(os.path.join(target, "winner-part"), "w") as fh:
        fh.write("w")
    _publish_build(str(build), target)  # no raise
    assert not build.exists()  # loser's copy discarded
    assert os.path.exists(os.path.join(target, "winner-part"))  # winner served

    # happy path still renames
    build2 = tmp_path / "b2.build-xyz"
    build2.mkdir()
    t2 = str(tmp_path / "t2")
    _publish_build(str(build2), t2)
    assert os.path.isdir(t2) and not build2.exists()


def test_build_once_failure_rebuilds_and_hit_skips_build(tmp_path, monkeypatch):
    """A ``build`` that raises publishes nothing, the next call builds
    again and publishes, and a hit never calls ``build``."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    path = tmp_path / f"{PFX}key1"
    calls = []

    def write(build_dir, text):
        calls.append(build_dir)
        os.makedirs(build_dir)
        with open(os.path.join(build_dir, "part-0000"), "w") as fh:
            fh.write(text)

    def failing(build_dir):
        write(build_dir, "partial")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError):
        build_once(PFX, "key1", failing)
    assert not path.exists(), "a failed build must publish nothing"

    assert build_once(PFX, "key1", lambda d: write(d, "done")) == str(path)
    assert (path / "part-0000").read_text() == "done"
    assert len(calls) == 2 and calls[0] != calls[1]  # fresh .build- dir

    old = time.time() - 7_200
    os.utime(path, (old, old))

    def never(build_dir):
        raise AssertionError("a hit must not build")

    assert build_once(PFX, "key1", never) == str(path)
    assert time.time() - os.path.getmtime(path) < 60, "a hit serve-touches"
