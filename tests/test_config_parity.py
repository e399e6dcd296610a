"""Ports of /root/reference/tests/test_config.py golden cases."""

import os
from decimal import Decimal

import pytest

from opentopodata_spark import config


class TestFilenameToTileCorner:
    # reference tests/test_config.py:280-293
    @pytest.mark.parametrize(
        "filename,expected",
        [
            ("N00E010.tif", (Decimal(0), Decimal(10))),
            ("S40W060.hgt", (Decimal(-40), Decimal(-60))),
            ("USGS_13_S40W60.tif", (Decimal(-40), Decimal(-60))),
            ("fraction_N50x5W20x25.tif", (Decimal("50.5"), Decimal("-20.25"))),
            ("n001000w500000.geotiff.zip", (Decimal(1000), Decimal(-500000))),
            ("N2000000E3000000.TIF", (Decimal(2000000), Decimal(3000000))),
            ("USGS_13_n00e011.tif", (Decimal(0), Decimal(11))),
        ],
    )
    def test_corner(self, filename, expected):
        assert config.filename_to_tile_corner(filename) == expected


class TestTileSizeCoercion:
    # reference tests/test_config.py:229-260
    def test_int(self):
        assert config.parse_filename_tile_size(5) == Decimal(5)

    def test_whole_float(self):
        assert config.parse_filename_tile_size(5.0) == Decimal(5)

    def test_fractional_float_rejected(self):
        with pytest.raises(config.ConfigError):
            config.parse_filename_tile_size(0.25)

    def test_fractional_string(self):
        assert config.parse_filename_tile_size("0.25") == Decimal("0.25")

    def test_garbage(self):
        with pytest.raises(config.ConfigError):
            config.parse_filename_tile_size("bogus")


class TestDatasetClassification:
    def test_types(self, datasets):
        assert isinstance(datasets["etopo1deg"], config.SingleFileDataset)
        assert isinstance(datasets["nodata"], config.SingleFileDataset)
        assert isinstance(datasets["srtm90subset"], config.TiledDataset)
        assert isinstance(datasets["srtm90utm"], config.TiledDataset)
        assert isinstance(datasets["eudemsubset"], config.TiledDataset)
        assert isinstance(datasets["multi_eudem_etopo1"], config.MultiDataset)

    def test_multi_children(self, datasets):
        assert datasets["multi_eudem_etopo1"].child_dataset_names == [
            "nodata",
            "eudemsubset",
            "etopo1deg",
        ]

    def test_defaults(self, datasets):
        srtm = datasets["srtm90utm"]
        assert srtm.filename_epsg == 4326
        assert srtm.filename_tile_size == Decimal(1)

    def test_wgs84_bounds(self, datasets):
        b = datasets["srtm90subset"].wgs84_bounds
        assert (b.left, b.bottom, b.right, b.top) == (10, 0, 12, 1)
        g = datasets["etopo1deg"].wgs84_bounds
        assert (g.left, g.bottom, g.right, g.top) == (-180, -90, 180, 90)


class TestLocationPaths:
    # reference tests/test_config.py:262-278
    def test_tile_assignment(self, datasets):
        srtm = datasets["srtm90subset"]
        paths = srtm.location_paths([0.1, 0.9, 10.0], [10.99, 11.1, 100.0])
        assert paths[0].endswith("N00E010.tif")
        assert paths[1].endswith("N00E011.tif")
        assert paths[2] is None

    def test_single_file(self, datasets):
        et = datasets["etopo1deg"]
        paths = et.location_paths([0, 50], [0, 50])
        assert len(paths) == 2 and paths[0] == paths[1] == et.tile_path

    def test_eudem_tile_assignment(self, datasets):
        eu = datasets["eudemsubset"]
        paths = eu.location_paths([47.625765, 44.969186], [9.418759, -3.152424])
        assert paths[0].endswith("N2000000E4000000.TIF")
        assert paths[1].endswith("N2000000E3000000.TIF")


class TestConfigValidation:
    def _write(self, tmp_path, text):
        p = tmp_path / "c.yaml"
        p.write_text(text)
        return str(p)

    def test_no_datasets(self, tmp_path):
        with pytest.raises(config.ConfigError):
            config.load_config(self._write(tmp_path, "datasets: []\n"))

    def test_no_name(self, tmp_path):
        with pytest.raises(config.ConfigError):
            config.load_config(self._write(tmp_path, "datasets:\n- path: /x\n"))

    def test_no_path(self, tmp_path):
        with pytest.raises(config.ConfigError):
            config.load_config(self._write(tmp_path, "datasets:\n- name: x\n"))

    def test_comma_in_name(self, tmp_path):
        with pytest.raises(config.ConfigError):
            config.load_config(
                self._write(tmp_path, "datasets:\n- name: a,b\n  path: /x\n")
            )

    def test_missing_child(self, tmp_path):
        with pytest.raises(config.ConfigError):
            config.load_config(
                self._write(
                    tmp_path,
                    "datasets:\n- name: a\n  path: /x\n- name: m\n  child_datasets: [zzz]\n",
                )
            )

    def test_multidataset_child_of_multidataset_rejected(self, tmp_path):
        with pytest.raises(config.ConfigError):
            config.load_config(
                self._write(
                    tmp_path,
                    "datasets:\n"
                    "- name: a\n  path: /x\n"
                    "- name: m1\n  child_datasets: [a]\n"
                    "- name: m2\n  child_datasets: [m1]\n",
                )
            )

    def test_single_file_jpeg2000_says_why(self, tmp_path):
        d = tmp_path / "jp2"
        d.mkdir()
        (d / "dem.jp2").write_bytes(b"\x00\x00\x00\x0cjP  \r\n\x87\n")
        with pytest.raises(config.ConfigError) as e:
            config.dataset_from_config("j", path=str(d))
        msg = str(e.value)
        assert msg.startswith("Unsupported filetype for ")
        assert "JPEG 2000" in msg and "convert to GeoTIFF" in msg

    def test_default_max_locations(self, tmp_path):
        c = config.load_config(
            self._write(tmp_path, "datasets:\n- name: a\n  path: /x\n")
        )
        assert c["max_locations_per_request"] == 100


class TestResolveDatasetNames:
    def test_expansion(self, datasets):
        ds = config.resolve_dataset_names("multi_eudem_etopo1", datasets)
        assert [d.name for d in ds] == ["nodata", "eudemsubset", "etopo1deg"]

    def test_comma_list(self, datasets):
        ds = config.resolve_dataset_names("srtm90subset,etopo1deg", datasets)
        assert [d.name for d in ds] == ["srtm90subset", "etopo1deg"]

    def test_duplicates_rejected(self, datasets):
        with pytest.raises(config.ConfigError):
            config.resolve_dataset_names("etopo1deg,etopo1deg", datasets)

    def test_unknown_rejected(self, datasets):
        with pytest.raises(config.ConfigError):
            config.resolve_dataset_names("nope", datasets)

    def test_duplicate_after_expansion_rejected(self, datasets):
        with pytest.raises(config.ConfigError):
            config.resolve_dataset_names("multi_eudem_etopo1,etopo1deg", datasets)


class TestAuxFiles:
    def test_aux_ignored(self, tmp_path, raster_root):
        import shutil

        d = tmp_path / "ds"
        d.mkdir()
        src = os.path.join(raster_root, "test-srtm90m-subset", "N00E010.tif")
        shutil.copy(src, d / "N00E010.tif")
        shutil.copy(src, d / "N00E011.tif")
        (d / "N00E010.aux.xml").write_text("<aux/>")
        (d / "something.prj").write_text("PROJCS[]")
        ds = config.dataset_from_config("t", path=str(d))
        assert isinstance(ds, config.TiledDataset)
        assert len(ds.tile_lookup) == 2

    def test_duplicate_corners_rejected(self, tmp_path, raster_root):
        import shutil

        d = tmp_path / "ds"
        d.mkdir()
        src = os.path.join(raster_root, "test-srtm90m-subset", "N00E010.tif")
        shutil.copy(src, d / "N00E010.tif")
        shutil.copy(src, d / "n00e010.geotiff")
        with pytest.raises(config.ConfigError):
            config.dataset_from_config("t", path=str(d))
