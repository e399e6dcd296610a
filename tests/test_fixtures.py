"""The generated fixture corpus stays usable when its directory moves."""

import os
import shutil

from opentopodata_spark import config, fixtures


def test_copied_corpus_reads_its_own_rasters(tmp_path, compressed_raster_root):
    """A corpus copied to another root keeps its ``.complete`` marker; the
    config it carries names the original root until make_all_rasters
    rewrites it for the copy."""
    copy = str(tmp_path / "copy")
    shutil.copytree(compressed_raster_root, copy)
    cfg = fixtures.make_all_rasters(
        copy, styles=fixtures.COMPRESSED_STYLES, with_hgt_zip=True
    )["config"][0]
    assert cfg == os.path.join(copy, "test-config.yaml")
    dsets = config.load_datasets(cfg)
    assert "srtmhgtzip" in dsets
    root = os.path.realpath(copy) + os.sep
    paths = []
    for d in dsets.values():
        if isinstance(d, config.SingleFileDataset):
            paths.append(d.tile_path)
        elif isinstance(d, config.TiledDataset):
            paths.extend(d.tile_lookup.values())
    assert paths
    for p in paths:
        assert os.path.realpath(p).startswith(root), p
