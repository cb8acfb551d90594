"""``tools/make_stress.build``: the N-times replica of a test-data
directory that the 10x benchmark workloads read."""

from __future__ import annotations

import json
import shutil
from pathlib import Path


class TestStressLayoutDeterminism:
    def test_two_builds_place_identical_rows_per_file(
        self, spark, sf_dir, tmp_path
    ):
        """Hash-partitioning on the primary id with a fixed file count
        makes the replica layout a pure function of the source, so a
        rebuilt replica places the same rows in the same files."""
        from tools.make_stress import build

        def sig(dst: Path) -> dict:
            # identify a file by its partition index (the part-NNNNN
            # prefix), not the full name — Spark embeds a random job
            # UUID in file names; determinism means the same ROWS land
            # in the same PARTITION
            out = {}
            for tdir in sorted(dst.glob("*.parquet")):
                import pyarrow.parquet as pq

                out[tdir.name] = sorted(
                    (f.name.split("-")[1], pq.read_metadata(f).num_rows)
                    for f in tdir.glob("*.parquet")
                )
            return out

        a, b = tmp_path / "rep_a", tmp_path / "rep_b"
        build(sf_dir, str(a), 2)
        build(sf_dir, str(b), 2)
        sig_a, sig_b = sig(a), sig(b)
        assert sig_a and sig_a == sig_b
        layout = json.loads((a / "_LAYOUT.json").read_text())
        assert set(layout) == {p.stem for p in a.glob("*.parquet")}
        for t, meta in layout.items():
            assert meta["rows"] > 0 and meta["files"] > 0
        # 2x replication doubles every table's rows exactly
        import pyarrow.parquet as pq

        for t, meta in layout.items():
            src_rows = pq.read_metadata(
                *list(Path(sf_dir).glob(f"{t}.parquet"))[:1]
            ).num_rows if (Path(sf_dir) / f"{t}.parquet").is_file() else (
                sum(
                    pq.read_metadata(f).num_rows
                    for f in (Path(sf_dir) / f"{t}.parquet").glob(
                        "*.parquet"
                    )
                )
            )
            assert meta["rows"] == 2 * src_rows
        shutil.rmtree(a, ignore_errors=True)
        shutil.rmtree(b, ignore_errors=True)
