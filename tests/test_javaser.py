"""S1/S2 Java-serialization reader round-trip.

``tests/data/profiles.ser`` / ``gt.ser`` were written by the ACTUAL JedAI
classes (``org.scify.jedai.datamodel.EntityProfile`` / ``IdDuplicates``
from the reference's bundled ``jedai-core-3.01-SNAPSHOT.jar``) through
``java.io.ObjectOutputStream`` — see the generator program quoted in
``sources/javaser.py``'s history. The fixture deliberately probes modified
UTF-8 edge cases: accents, CJK, a supplementary-plane emoji (CESU-8
surrogate pair on the wire) and an embedded NUL (the C0 80 encoding), plus
an attribute-free profile and repeated attribute names (TC_REFERENCE
back-refs).
"""

from __future__ import annotations

import os

from continuousfilteringbenchmark_spark.sources import javaser

DATA = os.path.join(os.path.dirname(__file__), "data")
PROFILES = os.path.join(DATA, "profiles.ser")
GT = os.path.join(DATA, "gt.ser")

EXPECTED = [
    (
        "http://dblp/rec0",
        [
            ("title", "Continuous filtering for entity resolution"),
            ("authors", "G. Papadakis"),
            ("year", "2023"),
        ],
    ),
    (
        "http://acm/rec1",
        [("title", "Continuous filtering for entity resolution!"), ("venue", "VLDB")],
    ),
    ("http://dblp/rec2", [("title", "Café déjà 中文 😀 nul:\x00:done")]),
    ("empty-profile", []),
]


def test_profiles_round_trip_exact():
    got = javaser.read_profiles_file(PROFILES)
    assert [(u, sorted(a)) for u, a in got] == [(u, sorted(a)) for u, a in EXPECTED]


def test_gt_round_trip_exact():
    assert sorted(javaser.read_gt_file(GT)) == [(0, 1), (2, 3)]


def test_profile_rows_span_model():
    rows = list(javaser.profile_rows(PROFILES))
    assert [r[0] for r in rows] == [0, 1, 2, 3]  # positional entity ids
    assert rows[3] == (3, "empty-profile", [])
    span = rows[2][2][0]
    assert span["kind"] == "title" and span["offset"] == 0
    assert "\U0001f600" in span["text"] and "\x00" in span["text"]


def test_parquet_conversion_batched(tmp_path):
    out = str(tmp_path / "docs.parquet")
    # batch_rows=2 forces the multi-batch writer path on the 4-row fixture
    n = javaser.profiles_to_parquet(PROFILES, out, batch_rows=2)
    assert n == 4
    import pyarrow.parquet as pq

    t = pq.read_table(out)
    assert t.num_rows == 4
    assert t.column("doc_id").to_pylist()[0] == "http://dblp/rec0"


def test_spark_sources(spark, tmp_path):
    docs = javaser.read_entity_profiles(
        spark, PROFILES, staging_path=str(tmp_path / "staging.parquet")
    )
    assert docs.count() == 4
    assert set(docs.columns) == {"entity_id", "doc_id", "spans"}
    # the interleaved span schema survives the parquet staging hop
    row = docs.where("entity_id = 0").collect()[0]
    assert {s.kind for s in row.spans} == {"title", "authors", "year"}
    gt = javaser.read_gt_duplicates(spark, GT)
    assert sorted((r.left_id, r.right_id) for r in gt.collect()) == [(0, 1), (2, 3)]


def test_rejects_non_stream(tmp_path):
    import pytest

    p = tmp_path / "bogus.ser"
    p.write_bytes(b"\x00\x01\x02\x03")
    with pytest.raises(ValueError, match="not a Java serialization stream"):
        javaser.read_profiles_file(str(p))


def test_modified_source_is_converted_again(spark, tmp_path, monkeypatch):
    """The default staging name is keyed by the source's size and mtime, not
    its path alone: an unchanged source reuses its staged parquet, a
    modified one is converted again, and no temp file is left behind."""
    import shutil

    stage_dir = tmp_path / "stage"
    stage_dir.mkdir()
    monkeypatch.setattr(javaser, "_staging_dir", lambda: str(stage_dir))
    converted = []
    real = javaser.profiles_to_parquet

    def spy(path, out_path, *args, **kwargs):
        converted.append(path)
        return real(path, out_path, *args, **kwargs)

    monkeypatch.setattr(javaser, "profiles_to_parquet", spy)
    src = tmp_path / "profiles.ser"
    shutil.copy(PROFILES, src)

    assert javaser.read_entity_profiles(spark, str(src)).count() == 4
    assert javaser.read_entity_profiles(spark, str(src)).count() == 4
    assert len(converted) == 1

    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert javaser.read_entity_profiles(spark, str(src)).count() == 4
    assert len(converted) == 2
    assert sorted(p.name.startswith("javaser_") for p in stage_dir.iterdir()) == [True, True]


def test_default_staging_dir_is_user_private(tmp_path, monkeypatch):
    monkeypatch.setenv("HOME", str(tmp_path))
    d = javaser._staging_dir()
    assert d.startswith(str(tmp_path))
    st = os.stat(d)
    assert st.st_uid == os.getuid() and not st.st_mode & 0o022
