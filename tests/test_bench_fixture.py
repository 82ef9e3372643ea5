"""The crawl bench's cached fixture is keyed on the generator's source."""

from __future__ import annotations

import shutil

from benchmarks import crawl_bench
from pegasus_spark.crawler import fixtures


def test_fixture_dir_tracks_generator_source(tmp_path, monkeypatch):
    before = crawl_bench._fixture_dir("small")
    assert crawl_bench._fixture_dir("small") == before
    assert crawl_bench._fixture_dir("large") != before
    edited = tmp_path / "fixtures.py"
    shutil.copyfile(fixtures.__file__, edited)
    with open(edited, "a") as f:
        f.write("\n# edited\n")
    monkeypatch.setattr(fixtures, "__file__", str(edited))
    after = crawl_bench._fixture_dir("small")
    assert after != before
    assert after.rsplit("_", 1)[0] == before.rsplit("_", 1)[0]
