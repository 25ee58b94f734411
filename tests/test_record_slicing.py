"""Record-slicing parity against the reference's own pickled fixtures.

Pins the goldens of /root/reference/tests/test_rpred.py:35-263 byte-for-byte
(predictions, aggregated polygon-section cuts, mean confidences) through
kraken_spark.kernels.records, exercising the BiDi display<->logical path on
real Arabic records and the polygon-section cache on real Latin baseline
records.
"""

from pathlib import Path

import numpy as np
import pytest

from kraken_spark.kernels.records import (BaselineOCRRecord,
                                          load_reference_pickle,
                                          precompute_sections)
from kraken_spark.refassets import resources_dir

from conftest import requires_reference

RES = Path(resources_dir())

pytestmark = requires_reference("arabic_bbox_records.pkl", "box_rec.pkl",
                                "arabic_bl_records.pkl", "bl_rec.pkl")


@pytest.fixture(scope="module")
def arabic_bbox():
    return load_reference_pickle(RES / "arabic_bbox_records.pkl")[0]


@pytest.fixture(scope="module")
def latin_bbox():
    return load_reference_pickle(RES / "box_rec.pkl").lines[5]


@pytest.fixture(scope="module")
def arabic_bl():
    return load_reference_pickle(RES / "arabic_bl_records.pkl")


@pytest.fixture(scope="module")
def latin_bl():
    return load_reference_pickle(RES / "bl_rec.pkl").lines[5]


# -- bbox records (test_rpred.py:39-117) ------------------------------------

def test_arabic_bbox_cuts_len(arabic_bbox):
    assert len(arabic_bbox.cuts) == 52


def test_arabic_bbox_display_and_identity(arabic_bbox):
    do = arabic_bbox.display_order()
    assert do is do.display_order()
    assert do.prediction == \
        'مذا ذا درع نلاهو زکذل انبا ملةدیس هىک ماف نابصل ممهع'
    assert do[:][2] == pytest.approx(0.7227956, abs=1e-4)


def test_arabic_bbox_logical(arabic_bbox):
    assert arabic_bbox is arabic_bbox.logical_order()
    assert arabic_bbox.prediction == \
        'عهمم لصبان فام کىه سیدةلم ابنا لذکز وهالن عرد اذ اذم'


def test_arabic_bbox_slicing(arabic_bbox):
    pred, cut, conf = arabic_bbox[1:8]
    assert pred == 'همم لصب'
    assert cut == ((861, 245), (980, 245), (980, 325), (861, 325))
    assert conf == pytest.approx(0.7444813, abs=1e-4)


def test_arabic_bbox_step_slicing(arabic_bbox):
    pred, cut, conf = arabic_bbox[1:5:2]
    assert pred == 'هم'
    assert cut == ((936, 245), (980, 245), (980, 325), (936, 325))
    assert conf == pytest.approx(0.8795802, abs=1e-4)


def test_latin_bbox_identities(latin_bbox):
    # LTR reorder is the identity permutation -> value-equal record
    assert latin_bbox == latin_bbox.display_order()
    assert latin_bbox == latin_bbox.logical_order()


def test_latin_bbox_slicing(latin_bbox):
    pred, cut, conf = latin_bbox[1:8]
    assert pred == 'i quelq'
    assert cut == ((321, 380), (422, 380), (422, 421), (321, 421))
    assert conf == pytest.approx(0.9994162, abs=1e-4)


def test_latin_bbox_step_slicing(latin_bbox):
    pred, cut, conf = latin_bbox[1:5:2]
    assert pred == 'iq'
    assert cut == ((321, 380), (349, 380), (349, 421), (321, 421))
    assert conf == pytest.approx(0.9995827, abs=1e-4)


# -- baseline records (test_rpred.py:120-263) --------------------------------

ARABIC_LOGICAL = ('عند عدم العصبات اذا لم يكن للصغيرة أم أيضاً لماذ كر. . ولنا أن نقول ان الآم')  # noqa: E501 — exact escapes from reference test_rpred.py:168-175


def test_arabic_bl_construction(arabic_bl):
    rec = BaselineOCRRecord(**arabic_bl[0], display_order=True)
    assert len(rec.prediction) > 0


def test_arabic_bl_identities(arabic_bl):
    rec = BaselineOCRRecord(**arabic_bl[0], display_order=True)
    assert rec is rec.display_order()
    rec_lo = BaselineOCRRecord(**arabic_bl[0], display_order=False)
    assert rec_lo is rec_lo.logical_order()


def test_arabic_bl_display_to_logical(arabic_bl):
    lo = BaselineOCRRecord(**arabic_bl[0], display_order=True).logical_order()
    assert lo.prediction == ARABIC_LOGICAL
    assert lo[:][2] == pytest.approx(0.9746356, abs=1e-4)


def test_arabic_bl_logical_to_display(arabic_bl):
    do = BaselineOCRRecord(**arabic_bl[0], display_order=False).display_order()
    assert do.prediction == ARABIC_LOGICAL
    assert do[:][2] == pytest.approx(0.9746356, abs=1e-4)


def test_arabic_bl_roundtrip(arabic_bl):
    rec = BaselineOCRRecord(**arabic_bl[0], display_order=True)
    assert rec.logical_order().display_order().prediction == rec.prediction


def test_arabic_bl_short_logical(arabic_bl):
    rec = BaselineOCRRecord(**arabic_bl[6], display_order=True)
    assert rec.logical_order().prediction == 'يتناولها .'


def test_arabic_bl_slicing(arabic_bl):
    rec = BaselineOCRRecord(**arabic_bl[0], display_order=True)
    pred, cut, conf = rec[2:8]
    assert pred == 'الا نا'
    assert conf == pytest.approx(0.9937494, abs=1e-4)


def test_arabic_bl_step_slicing(arabic_bl):
    rec = BaselineOCRRecord(**arabic_bl[6], display_order=True)
    pred, cut, conf = rec[1:5:2]
    assert pred == ' ه'
    assert conf == pytest.approx(0.9366213, abs=1e-4)


def test_arabic_bl_logical_order_slicing(arabic_bl):
    lo = BaselineOCRRecord(**arabic_bl[0], display_order=True).logical_order()
    pred, cut, conf = lo[2:8]
    assert pred == 'د عدم '
    assert conf == pytest.approx(0.9969620, abs=1e-4)


def test_latin_bl_identities(latin_bl):
    assert latin_bl == latin_bl.display_order()
    assert latin_bl == latin_bl.logical_order()


def test_latin_bl_slicing(latin_bl):
    pred, cut, conf = latin_bl[1:8]
    assert pred == 'i quelq'
    assert cut == ([320, 373], [320, 419], [424, 420], [424, 368])
    assert conf == pytest.approx(0.9996614, abs=1e-4)


def test_latin_bl_step_slicing(latin_bl):
    pred, cut, conf = latin_bl[1:5:2]
    assert pred == 'iq'
    assert cut == ([320, 373], [320, 419], [346, 423], [346, 375])
    assert conf == pytest.approx(0.9998304, abs=1e-4)


# -- geometry recomputation parity -------------------------------------------

def test_precompute_matches_reference_pickled_cache(latin_bl):
    """The pickled fixture carries the REFERENCE's own precomputed polygon
    sections; recomputing from the raw baseline/boundary/cuts must match
    byte-for-byte (cuts, cache keys/values, baseline length)."""
    polys, cache, total = precompute_sections(
        latin_bl.baseline, latin_bl.boundary, latin_bl._cuts)
    assert total == latin_bl._bl_length
    assert polys == latin_bl._polygon_cuts
    assert set(cache) == set(latin_bl._intersection_cache)
    for k, v in cache.items():
        ref = latin_bl._intersection_cache[k]
        if v is None or ref is None:
            assert v is None and ref is None
        else:
            assert np.array_equal(v, ref)


def test_precompute_matches_all_lines_both_fixtures():
    for fixture in ("bl_rec.pkl",):
        seg = load_reference_pickle(RES / fixture)
        for rec in seg.lines:
            if not getattr(rec, "_cuts", None):
                continue
            polys, cache, total = precompute_sections(
                rec.baseline, rec.boundary, rec._cuts)
            assert total == rec._bl_length
            assert polys == rec._polygon_cuts
