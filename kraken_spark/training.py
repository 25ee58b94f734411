"""Distributed data-parallel recognizer training — the ketos-train analog
at cluster scale.

The reference trains its VGSL CTC recognizer with a single-node torch loop
(/root/reference/kraken/ketos/recognition.py + /root/reference/kraken/lib/
train.py). kernels/rec_train.py is the from-scratch numpy twin of that
loop; this module is its Spark face for the corpus-scale case, where the
training lines live in a 10^12-row table instead of a driver list:

* line GENERATION is distributed: one task per page slice runs the
  production inference chain (render -> nlbin -> blla segmentation ->
  polygon extract -> Lanczos resize -> pad/invert) and emits
  (patch, ctc_labels) rows — at real scale this is a scan of the pages
  table; here the pages come from the deterministic renderer.
* each optimization step is synchronous data-parallel SGD: the driver
  broadcasts the current weights (~0.5 MB), every task computes the CTC
  gradient SUM over its slice of the step's minibatch (Arrow-batched
  numpy — no per-row Python), and ships back ONE partial row per task
  (~1 MB of float64 gradient), which the driver folds and feeds to Adam.
  The corpus never moves: per step, only the weight broadcast and P
  partial rows cross the wire — the parameter-server-free synchronous
  pattern. Minibatches are drawn with a seeded hash filter
  (xxhash64(url, line_idx, step)), so every retry/partitioning draws the
  same lines.
* gradients are per-sample SUMS (mean taken once at the driver), so the
  result is partitioning-independent up to float-sum reassociation: a
  single-partition run reproduces kernels/rec_train.dataset_gradient
  BIT-FOR-BIT, a multi-partition run agrees to ~1e-9 relative (both
  pinned in tests/test_rec_train.py).
* one reducer (_spark_reduce) serves all four trainers — recognizer CTC,
  contrastive pretrain, segmenter and reading order: weight broadcast ->
  one partial row per task -> optional executor-side tree fold ->
  collect -> unflatten. Each public spark_*_gradient supplies only its
  per-partition body (sample decoding, local gradient, its own summation
  order), and every single-partition run bit-equals its local sum
  (pinned in test_rec_train, test_rec_pretrain, test_seg_train and
  test_ro_train). The driver loops all step rec_train.Adam.
"""

from __future__ import annotations

import io
from typing import Iterator

import numpy as np

from .kernels import rec_train

LINES_SCHEMA = (
    "url string, line_idx int, height int, width int, "
    "patch binary, labels array<int>, gt string"
)


# --------------------------------------------------------------- data gen
def generate_line_rows(spark, seed: int, n_docs: int, partitions: int | None = None):
    """Distributed training-line table: one task per slice of page ids,
    each page run through the production chain (alternating the two
    vectorizer geometries like the local trainer). Columns: url, line_idx,
    height, width, patch (float32 tensor bytes), labels, gt."""
    import pyarrow as pa

    partitions = partitions or min(n_docs, spark.sparkContext.defaultParallelism * 2)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for di in b.column("id").to_pylist():
                vec = "analog" if di % 2 == 0 else "reference"
                lines = rec_train.page_training_lines(seed, di, vectorizer=vec)
                if not lines:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([f"https://example.org/train/{di:08d}"] * len(lines)),
                        pa.array(list(range(len(lines))), pa.int32()),
                        pa.array([ts.shape[0] for ts, _l, _g in lines], pa.int32()),
                        pa.array([ts.shape[1] for ts, _l, _g in lines], pa.int32()),
                        pa.array(
                            [np.ascontiguousarray(ts, dtype=np.float32).tobytes() for ts, _l, _g in lines],
                            pa.binary(),
                        ),
                        pa.array([l for _t, l, _g in lines], pa.list_(pa.int32())),
                        pa.array([g for _t, _l, g in lines]),
                    ],
                    names=["url", "line_idx", "height", "width", "patch", "labels", "gt"],
                )

    return spark.range(n_docs).repartition(partitions).mapInArrow(gen, LINES_SCHEMA)


def _rows_to_samples(batch, augment_step: int | None = None
                     ) -> list[tuple[np.ndarray, list[int], str]]:
    hs = batch.column("height").to_pylist()
    ws = batch.column("width").to_pylist()
    ps = batch.column("patch").to_pylist()
    ls = batch.column("labels").to_pylist()
    gs = batch.column("gt").to_pylist()
    out = [
        (np.frombuffer(p, dtype=np.float32).reshape(h, w), list(l), g)
        for h, w, p, l, g in zip(hs, ws, ps, ls, gs)
    ]
    if augment_step is not None:
        from .kernels import augment as aug

        us = batch.column("url").to_pylist()
        lis = batch.column("line_idx").to_pylist()
        out = [
            (aug.augment_line(img, aug.rng_for(augment_step,
                                               line_key(u, li))), l, g)
            for (img, l, g), u, li in zip(out, us, lis)
        ]
    return out


def gt_text_transform(text: str, normalization: str | None = None,
                      normalize_whitespace: bool = False) -> str:
    """The reference's GT text transforms (functional_im_transforms.py:
    85-90): optional unicode normalization (NFD/NFC/NFKD/NFKC) then
    whitespace folding (every \\s run of length 1 -> ' ', strip)."""
    import re as _re
    import unicodedata as _ud

    if normalization:
        text = _ud.normalize(normalization, text)
    if normalize_whitespace:
        text = _re.sub(r"\s", " ", text).strip()
    return text


def line_rows_from_dataset(spark, path: str, split: str = "train",
                           height: int | None = None,
                           codec: dict[str, list[int]] | None = None,
                           normalization: str | None = None,
                           normalize_whitespace: bool = False):
    """Training-line rows from a reference-format Arrow IPC line dataset
    (sources/arrow_dataset.py — the ketos input format: lines
    struct<text, im, language> + split masks), one task per shard file.

    Each line image (a bitonal strip PNG) is presented as black-ink-on-
    white and run through the inference tensor prep (trim -> Lanczos
    fixed-height resize -> /255 -> pad -> invert); labels are the
    display-order codec encoding of the GT text (what the frames contain —
    BiDi reordering to logical happens at inference). Lines with
    out-of-codec characters are dropped (the reference's alphabet check)."""
    import glob as _glob
    import os as _os

    import pyarrow as pa

    files = sorted(_glob.glob(_os.path.join(path, "shard-*.arrow"))) if _os.path.isdir(path) else [path]
    if not files:
        raise ValueError(f"no dataset shards under {path}")
    fdf = spark.createDataFrame([(f,) for f in files], "path string").repartition(len(files))
    h = height or rec_train.HEIGHT
    cdc = codec if codec is not None else rec_train.CODEC

    def gen(batches):
        import pyarrow.ipc as ipc

        from kraken_spark.kernels import png
        from kraken_spark.kernels.bidi import get_display
        from kraken_spark.kernels.torchvgsl import fixed_resize

        for b in batches:
            for fp in b.column("path").to_pylist():
                with open(fp, "rb") as f:
                    table = ipc.open_file(f).read_all()
                mask = table.column(split).to_pylist()
                lines = table.column("lines").to_pylist()
                rows = []
                for i, (ln, keep) in enumerate(zip(lines, mask)):
                    if not keep or not ln["text"]:
                        continue
                    gt = gt_text_transform(ln["text"], normalization,
                                           normalize_whitespace)
                    if not gt:
                        continue
                    try:
                        labels = [cdc[ch][0]
                                  for ch in get_display(gt, None)[0]]
                    except KeyError:
                        continue  # character outside the codec
                    strip = png.to_grayscale(png.decode_png(ln["im"]))
                    if strip.max() <= 1:
                        strip = strip * np.uint8(255)
                    img = (255 - strip).astype(np.uint8)  # ink dark on white
                    nzr = np.nonzero((img < 255).any(axis=1))[0]
                    nzc = np.nonzero((img < 255).any(axis=0))[0]
                    if len(nzr) == 0 or len(nzc) == 0:
                        continue
                    img = img[nzr[0]: nzr[-1] + 1, nzc[0]: nzc[-1] + 1]
                    ts = fixed_resize(img, (h, 0)).astype(np.float32) / 255.0
                    ts = np.pad(ts, ((0, 0), (rec_train.PAD, rec_train.PAD)),
                                constant_values=1.0)
                    ts = (ts.max() - ts).astype(np.float32)
                    if ts.max() == ts.min() or ts.shape[1] // 4 < len(labels):
                        continue
                    rows.append((f"{fp}#{i}", i, ts, labels, gt))
                if rows:
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array([r[0] for r in rows]),
                            pa.array([r[1] for r in rows], pa.int32()),
                            pa.array([r[2].shape[0] for r in rows], pa.int32()),
                            pa.array([r[2].shape[1] for r in rows], pa.int32()),
                            pa.array([r[2].tobytes() for r in rows], pa.binary()),
                            pa.array([r[3] for r in rows], pa.list_(pa.int32())),
                            pa.array([r[4] for r in rows]),
                        ],
                        names=["url", "line_idx", "height", "width", "patch",
                               "labels", "gt"],
                    )

    return fdf.mapInArrow(gen, LINES_SCHEMA)


def dataset_alphabet(spark, path: str, split: str = "train",
                     normalization: str | None = None,
                     normalize_whitespace: bool = False) -> set[str]:
    """Distinct GT characters of one dataset split — a tiny distributed
    scan (one set row per shard, unioned at the driver; the alphabet check
    ketos runs before resizing, reference ketos/recognition.py:246-258).
    The GT text transforms apply BEFORE the alphabet is taken (the
    reference's dataset applies them on add, so its alphabet counter only
    ever sees transformed text — lib/dataset/recognition.py:135-138)."""
    import glob as _glob
    import os as _os

    import pyarrow as pa

    files = (sorted(_glob.glob(_os.path.join(path, "shard-*.arrow")))
             if _os.path.isdir(path) else [path])
    fdf = spark.createDataFrame([(f,) for f in files],
                                "path string").repartition(len(files))

    def gen(batches):
        import pyarrow.ipc as ipc

        for b in batches:
            chars: set[str] = set()
            for fp in b.column("path").to_pylist():
                with open(fp, "rb") as f:
                    table = ipc.open_file(f).read_all()
                for ln, keep in zip(table.column("lines").to_pylist(),
                                    table.column(split).to_pylist()):
                    if keep and ln["text"]:
                        chars.update(gt_text_transform(
                            ln["text"], normalization, normalize_whitespace))
            yield pa.RecordBatch.from_pylist(
                [{"chars": "".join(sorted(chars))}],
                schema=pa.schema([pa.field("chars", pa.string())]))

    out: set[str] = set()
    for r in fdf.mapInArrow(gen, "chars string").collect():
        out.update(r.chars)
    return out


def extend_codec(W: dict[str, np.ndarray], codec: dict[str, list[int]],
                 spec: str, new_chars, seed: int = 42):
    """--resize union surgery (reference lib/vgsl layers LinSoftmax.resize
    + PytorchCodec.add_labels semantics): append one new code per unseen
    character, grow the output head by k Xavier-uniform rows with zero
    bias (surviving rows untouched), and rewrite the spec's class count.
    Returns (W', codec', spec')."""
    import re as _re

    new_chars = sorted(new_chars)
    if not new_chars:
        return W, codec, spec
    codec = {k: list(v) for k, v in codec.items()}
    next_code = max(v[0] for v in codec.values()) + 1
    for ch in new_chars:
        codec[ch] = [next_code]
        next_code += 1
    Wl, bl = W["out.lin.weight"], W["out.lin.bias"]
    k = len(new_chars)
    n_new = Wl.shape[0] + k
    rng = np.random.Generator(np.random.PCG64(seed))
    limit = float(np.sqrt(6.0 / (Wl.shape[1] + n_new)))
    W = dict(W)
    W["out.lin.weight"] = np.concatenate(
        [Wl, rng.uniform(-limit, limit, (k, Wl.shape[1])).astype(np.float32)])
    W["out.lin.bias"] = np.concatenate([bl, np.zeros(k, np.float32)])
    spec = _re.sub(r"c(\d+)\]$", f"c{n_new}]", spec)
    return W, codec, spec


def train_recognizer_from_dataset(spark, dataset_path: str, out_path: str,
                                  steps: int = 50, batch: int = 16,
                                  lr: float = 1e-3, sample_mod: int = 1,
                                  init_model: str | None = None,
                                  resize: str = "fail",
                                  normalization: str | None = None,
                                  normalize_whitespace: bool = False,
                                  augment: bool = False) -> dict:
    """The spark-submit training leg (job.py --train-recognizer): fit or
    fine-tune the recognizer on a reference-format line dataset with the
    synchronous data-parallel loop and write the model in kraken's
    safetensors layout. init_model warm-starts from an existing kraken
    model file (the ketos fine-tune flag); otherwise random init — note a
    cold CTC start needs several thousand steps (the committed asset's
    curriculum lives in tools/train_recognizer.py).

    resize: what to do when the dataset contains characters outside the
    codec — 'fail' raises (the reference's default; its error text tells
    you to set --resize), 'union'/'add' extends the codec and output head
    in place (extend_codec) so fine-tuning learns the new characters.

    normalization/normalize_whitespace: the reference's -u/--normalization
    and -n/--normalize-whitespace GT transforms (gt_text_transform),
    applied before BOTH the alphabet/resize check and label encoding."""
    import re as _re

    codec = {k: list(v) for k, v in rec_train.CODEC.items()}
    spec = rec_train.SPEC
    spec_family = _re.sub(r"c\d+\]$", "c*]", rec_train.SPEC)
    if init_model:
        from .kernels.modelio import load_kraken_model

        b = load_kraken_model(init_model)[0]
        if (b.metadata or {}).get("model_type") == "pretrain":
            # ketos train -i <pretrained>: transfer the self-supervised
            # backbone, re-initialize the output head
            from .kernels import rec_pretrain as rp

            Wp = {k: np.asarray(v, dtype=np.float32).copy()
                  for k, v in b.weights.items()}
            W = rp.to_recognizer_weights(Wp)
        elif _re.sub(r"c\d+\]$", "c*]", b.vgsl) != spec_family:
            # class count may differ (a previously --resize'd model);
            # anything else in the topology must match the trainer
            raise ValueError(f"init model spec {b.vgsl!r} != trainer spec")
        else:
            W = {k: np.asarray(v, dtype=np.float32).copy()
                 for k, v in b.weights.items()}
            codec = {k: list(v) for k, v in b.codec.items()} or codec
            spec = b.vgsl
    else:
        W = rec_train.init_weights(
            np.random.Generator(np.random.PCG64(rec_train.TRAIN_SEED)))
    known = set(codec)
    missing = dataset_alphabet(
        spark, dataset_path, normalization=normalization,
        normalize_whitespace=normalize_whitespace) - known
    n_new = len(missing)
    if missing and resize == "fail":
        raise ValueError(
            "Training data and model codec alphabets mismatch: "
            f"{sorted(missing)!r} not in the codec — set resize to "
            "'union'/'add' (--resize union) to extend the output head")
    if missing:
        W, codec, spec = extend_codec(W, codec, spec, missing)
    df = line_rows_from_dataset(
        spark, dataset_path, codec=codec, normalization=normalization,
        normalize_whitespace=normalize_whitespace).cache()
    l0, _, n0 = spark_gradient(df, W, batch=batch)
    W = train_spark(df, steps=steps, batch=batch, lr=lr,
                    sample_mod=sample_mod, W=W, augment=augment)
    l1, _, n1 = spark_gradient(df, W, batch=batch)
    if spec == rec_train.SPEC and not missing:
        rec_train.save_asset(W, out_path)
    else:
        from .kernels.modelio import KrakenModelBundle, save_kraken_model

        save_kraken_model(
            out_path,
            KrakenModelBundle(vgsl=spec, codec=codec,
                              weights={k: np.asarray(v, dtype=np.float32)
                                       for k, v in W.items()},
                              metadata=dict(rec_train.METADATA)),
            prefix="rec_learned", dtype="F32")
    return {"n_lines": int(n1), "loss_before": l0 / max(1, n0),
            "loss_after": l1 / max(1, n1), "model": out_path,
            "n_new_codes": n_new}


_TEST_MODEL_CACHE: dict = {}


def test_recognizer_on_dataset(spark, dataset_path: str, model_path: str,
                               split: str = "test", pad: int = 16,
                               normalization: str | None = None,
                               normalize_whitespace: bool = False) -> dict:
    """The ketos-test analog (reference kraken/ketos/recognition.py:262-420
    over lib/train.py's compute_error): evaluate ANY loaded kraken model —
    its own VGSL spec and codec — against one split of a reference-format
    line dataset, one task per shard file.

    Each line strip runs the inference prep (ink-dark-on-white, trim,
    Lanczos resize to the MODEL's input height) and the loaded model's
    forward/greedy-CTC/codec/BiDi tail; per-line errors aggregate JVM-side
    (groupBy language) so the driver only ever sees the per-language
    report rows. normalization/normalize_whitespace are the reference
    ketos-test -u/-n GT transforms (recognition.py:285-288), applied to
    the ground truth before scoring. Returns {accuracy, n_lines, n_exact,
    n_chars, per_language: {lang: {...}}, model, split}."""
    import glob as _glob
    import os as _os

    import pyarrow as pa
    from pyspark.sql import functions as F

    files = (sorted(_glob.glob(_os.path.join(dataset_path, "shard-*.arrow")))
             if _os.path.isdir(dataset_path) else [dataset_path])
    if not files:
        raise ValueError(f"no dataset shards under {dataset_path}")
    fdf = spark.createDataFrame([(f,) for f in files],
                                "path string").repartition(len(files))

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.ipc as ipc

        from kraken_spark.kernels import png
        from kraken_spark.kernels.metrics import cer
        from kraken_spark.kernels.modelio import load_kraken_model
        from kraken_spark.kernels.rpred_parity import LoadedRecognizer
        from kraken_spark.kernels.torchvgsl import fixed_resize

        rec = _TEST_MODEL_CACHE.get(model_path)
        if rec is None:  # one load per executor (worker reuse)
            rec = LoadedRecognizer(load_kraken_model(model_path)[0])
            _TEST_MODEL_CACHE[model_path] = rec
        schema = pa.schema([
            pa.field("language", pa.string()),
            pa.field("n_chars", pa.int64()), pa.field("errors", pa.float64()),
            pa.field("exact", pa.int32()), pa.field("n", pa.int32()),
        ])
        for b in batches:
            rows = []
            for fp in b.column("path").to_pylist():
                with open(fp, "rb") as f:
                    table = ipc.open_file(f).read_all()
                mask = table.column(split).to_pylist()
                lines = table.column("lines").to_pylist()
                for ln, keep in zip(lines, mask):
                    if not keep or not ln["text"]:
                        continue
                    gt = gt_text_transform(ln["text"], normalization,
                                           normalize_whitespace)
                    if not gt:
                        continue
                    strip = png.to_grayscale(png.decode_png(ln["im"]))
                    if strip.max() <= 1:
                        strip = strip * np.uint8(255)
                    img = (255 - strip).astype(np.uint8)
                    nzr = np.nonzero((img < 255).any(axis=1))[0]
                    nzc = np.nonzero((img < 255).any(axis=0))[0]
                    if len(nzr) == 0 or len(nzc) == 0:
                        continue
                    img = img[nzr[0]: nzr[-1] + 1, nzc[0]: nzc[-1] + 1]
                    (r,), _ = rec.run_lines(
                        [fixed_resize(img, (rec.height, 0))],
                        lambda u8: (u8, u8.shape[1]), pad)
                    if isinstance(r, Exception):
                        raise r
                    pred = r["prediction"]
                    rows.append({
                        "language": (ln["language"] or ["und"])[0],
                        "n_chars": len(gt),
                        "errors": cer(gt, pred) * len(gt),
                        "exact": int(pred == gt), "n": 1,
                    })
            if rows:
                yield pa.RecordBatch.from_pylist(rows, schema=schema)

    per_line = fdf.mapInArrow(
        gen, schema="language string, n_chars long, errors double, "
                    "exact int, n int")
    agg = (per_line.groupBy("language")
           .agg(F.sum("n_chars").alias("n_chars"),
                F.sum("errors").alias("errors"),
                F.sum("exact").alias("n_exact"),
                F.sum("n").alias("n_lines"))
           .collect())
    per_language = {
        r.language: {
            "accuracy": 1.0 - (r.errors / r.n_chars if r.n_chars else 0.0),
            "n_lines": r.n_lines, "n_exact": r.n_exact,
            "n_chars": r.n_chars,
        } for r in agg
    }
    n_chars = sum(r.n_chars for r in agg)
    errors = sum(r.errors for r in agg)
    return {
        "accuracy": 1.0 - (errors / n_chars if n_chars else 0.0),
        "n_lines": sum(r.n_lines for r in agg),
        "n_exact": sum(r.n_exact for r in agg),
        "n_chars": n_chars,
        "per_language": per_language,
        "model": model_path, "split": split,
    }


def test_segmenter_on_pairs(pairs, tolerance: float = 8.0,
                            segmenter: str = "blla",
                            vectorizer: str = "reference") -> dict:
    """The ketos-segtest analog (reference ketos/segmentation.py:367-530):
    evaluate a segmenter against transcribed XML ground truth.

    The reference reports per-class pixel accuracy/IoU of its multi-class
    heatmap head; our trained net's native classes are baseline/separator,
    so the report is the OBJECT-level baseline precision/recall/F1 — the
    greedy tolerance-matched metric of kernels/seg_metrics (the quantity
    a segtest user acts on), micro-aggregated over pages plus a macro-F1
    mean. For the blla path the report ALSO carries the reference
    segtest's native metric — per-class PIXEL accuracy/IoU of the heatmap
    head (classes baseline/region, sigmoid threshold 0.5) against target
    maps rasterized from the markup's baselines/regions exactly like the
    training GT (seg_metrics.rasterize_*); the tp/fp/fn/tn counts sum
    across pages/tasks before the ratio is taken. ``pairs`` is an
    (url, xml, image) DataFrame as produced by
    sources.arrow_dataset.xml_pairs_df; one Arrow batch per task, only
    per-page count rows reach the aggregation."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    _PX = ("bl_tp", "bl_fp", "bl_fn", "bl_tn",
           "rg_tp", "rg_fp", "rg_fn", "rg_tn")

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from kraken_spark.kernels import binarize, blla, pageseg, png, xmlparse
        from kraken_spark.kernels.imgio import decode_image
        from kraken_spark.kernels.seg_metrics import (
            baseline_prf, compute_detection_metrics, pixel_class_counts,
            rasterize_baselines, rasterize_regions)

        schema = pa.schema(
            [pa.field("url", pa.string()),
             pa.field("n_detected", pa.int64()),
             pa.field("n_golden", pa.int64()),
             pa.field("n_matched", pa.int64()),
             pa.field("f1", pa.float64()),
             pa.field("soft_p", pa.float64()),
             pa.field("soft_r", pa.float64()),
             pa.field("soft_f1", pa.float64())]
            + [pa.field(k, pa.int64()) for k in _PX])
        for b in batches:
            rows = []
            for r in b.to_pylist():
                try:
                    gt = xmlparse.parse_segmentation(r["xml"])
                    img = png.to_grayscale(decode_image(r["image"]))
                    mask = binarize.nlbin(img)
                    if segmenter == "pageseg":
                        pred = pageseg.segment(mask, url=r["url"])
                    else:
                        pred = blla.segment_blla(mask, url=r["url"],
                                                 vectorizer=vectorizer)
                except Exception:
                    continue  # unparseable pair: excluded from the report
                det = [ln["baseline"] for ln in pred["lines"]
                       if ln.get("baseline")]
                gold = [ln["baseline"] for ln in gt["lines"]
                        if ln.get("baseline")]
                m = baseline_prf(det, gold, tolerance)
                # the reference segtest's soft detection metric: resampled
                # polylines, tolerance-falloff point scores, optimal
                # one-to-one assignment (segmentation_metrics.py:154-192)
                sm = compute_detection_metrics(det, gold, tolerance)
                row = {"url": r["url"],
                       "n_detected": m["n_detected"],
                       "n_golden": m["n_golden"],
                       "n_matched": m["n_matched"], "f1": m["f1"],
                       "soft_p": sm["precision"], "soft_r": sm["recall"],
                       "soft_f1": sm["f1"],
                       **{k: 0 for k in _PX}}
                if segmenter != "pageseg":
                    # reference segtest's native metric: per-class pixel
                    # counts of the heatmap head vs rasterized GT
                    W = blla.learned_weights()
                    if W is not None:
                        maps = blla.compute_segmentation_map_learned(mask, W)
                    else:
                        maps = blla.compute_segmentation_map(
                            mask, blla.build_segmenter_ref())
                    h, w = mask.shape
                    gt_bl = blla._pool_or(
                        rasterize_baselines(gold, h, w), 2)
                    gt_rg = blla._pool_or(
                        rasterize_regions(
                            [rg.get("boundary") or [] for rg in
                             gt.get("regions", [])], h, w), 2)
                    hh = min(maps.shape[1], gt_bl.shape[0])
                    ww = min(maps.shape[2], gt_bl.shape[1])
                    cb = pixel_class_counts(maps[0, :hh, :ww] >= 0.5,
                                            gt_bl[:hh, :ww])
                    cr = pixel_class_counts(maps[1, :hh, :ww] >= 0.5,
                                            gt_rg[:hh, :ww])
                    row.update(bl_tp=cb["tp"], bl_fp=cb["fp"],
                               bl_fn=cb["fn"], bl_tn=cb["tn"],
                               rg_tp=cr["tp"], rg_fp=cr["fp"],
                               rg_fn=cr["fn"], rg_tn=cr["tn"])
                rows.append(row)
            if rows:
                yield pa.RecordBatch.from_pylist(rows, schema=schema)

    per_page = pairs.mapInArrow(
        gen, schema="url string, n_detected long, n_golden long, "
                    "n_matched long, f1 double, soft_p double, "
                    "soft_r double, soft_f1 double, "
                    + ", ".join(f"{k} long" for k in _PX))
    agg = per_page.agg(
        F.sum("n_detected").alias("n_detected"),
        F.sum("n_golden").alias("n_golden"),
        F.sum("n_matched").alias("n_matched"),
        F.avg("f1").alias("macro_f1"),
        F.avg("soft_p").alias("soft_p"),
        F.avg("soft_r").alias("soft_r"),
        F.avg("soft_f1").alias("soft_f1"),
        F.count("*").alias("n_pages"),
        *[F.sum(k).alias(k) for k in _PX],
    ).collect()[0]
    nd, ng, nm = agg.n_detected or 0, agg.n_golden or 0, agg.n_matched or 0
    p = nm / nd if nd else (1.0 if not ng else 0.0)
    rec = nm / ng if ng else 1.0
    f1 = 2 * p * rec / (p + rec) if (p + rec) > 0 else 0.0
    out = {
        "precision": p, "recall": rec, "f1": f1,
        "macro_f1": agg.macro_f1 or 0.0,
        "n_pages": agg.n_pages, "n_detected": nd, "n_golden": ng,
        "n_matched": nm, "segmenter": segmenter, "tolerance": tolerance,
        # the reference's native soft detection metric, macro-averaged
        # across pages (aggregate_detection_metrics semantics)
        "detection": {"precision": agg.soft_p or 0.0,
                      "recall": agg.soft_r or 0.0,
                      "f1": agg.soft_f1 or 0.0},
    }
    if segmenter != "pageseg":
        from .kernels.seg_metrics import pixel_metrics_of

        d = agg.asDict()
        bl = pixel_metrics_of({k: d[f"bl_{k}"] or 0
                               for k in ("tp", "fp", "fn", "tn")})
        rg = pixel_metrics_of({k: d[f"rg_{k}"] or 0
                               for k in ("tp", "fp", "fn", "tn")})
        out["pixel"] = {"baseline": bl, "region": rg,
                        "mean_iou": (bl["iou"] + rg["iou"]) / 2.0}
    return out


def pretrain_recognizer_from_dataset(spark, dataset_path: str, out_path: str,
                                     steps: int = 50, batch: int = 16,
                                     lr: float = 2e-3, sample_mod: int = 1,
                                     num_negatives: int | None = None) -> dict:
    """The spark-submit SELF-SUPERVISED leg (job.py --pretrain-recognizer):
    run the wav2vec2-style surrogate task over a line dataset's images
    (labels ignored — this works on unlabeled corpora, the whole point of
    ketos pretrain) and write a pretrain checkpoint for later
    --train-recognizer --model fine-tuning."""
    from .kernels import rec_pretrain as rp

    df = line_rows_from_dataset(spark, dataset_path).cache()
    W = rp.init_pretrain_weights(
        np.random.Generator(np.random.PCG64(rp.PRETRAIN_SEED)))
    l0, _, n0 = spark_pretrain_gradient(df, W, step=0, batch=batch,
                                        num_negatives=num_negatives)
    W = pretrain_spark(df, steps=steps, batch=batch, lr=lr,
                       sample_mod=sample_mod, num_negatives=num_negatives,
                       W=W)
    l1, _, n1 = spark_pretrain_gradient(df, W, step=0, batch=batch,
                                        num_negatives=num_negatives)
    rp.save_pretrain_checkpoint(W, out_path)
    return {"n_masked_frames": int(n1), "loss_before": l0 / max(1, n0),
            "loss_after": l1 / max(1, n1), "model": out_path}


# --------------------------------------------------------------- gradient
def _weights_blob(W: dict[str, np.ndarray]) -> bytes:
    buf = io.BytesIO()
    np.savez(buf, **{k: np.asarray(v, dtype=np.float32) for k, v in W.items()})
    return buf.getvalue()


def _weights_of(blob: bytes) -> dict[str, np.ndarray]:
    with np.load(io.BytesIO(blob)) as z:
        return {k: z[k] for k in z.files}


_PARTIAL_SCHEMA = "n long, loss double, grad binary"


def _partial_batch(n: int, loss: float, flat: np.ndarray):
    """One ``_PARTIAL_SCHEMA`` row: a gradient-sum partial (float64 flat)."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array([n], pa.int64()), pa.array([loss], pa.float64()),
         pa.array([flat.tobytes()], pa.binary())],
        names=["n", "loss", "grad"])


def _fold_arrow(batches):
    """Executor-side partial-row fold: one tree_fold level."""
    n = 0
    loss = 0.0
    acc = None
    for b in batches:
        for i in range(b.num_rows):
            n += b.column("n")[i].as_py()
            loss += b.column("loss")[i].as_py()
            flat = np.frombuffer(b.column("grad")[i].as_py(), dtype=np.float64)
            acc = flat.copy() if acc is None else acc + flat
    if acc is not None:
        yield _partial_batch(n, loss, acc)


def _spark_reduce(df, W: dict[str, np.ndarray], partial,
                  tree_fold: int | None = None):
    """The one synchronous data-parallel gradient reduction behind all four
    trainers. The driver broadcasts W as float32 (_weights_blob); each task
    calls ``partial(batches, Wl)`` on its partition, which returns that
    partition's (loss_sum, grad_sums, n) in its own summation order, or
    None when the partition holds nothing, and ships ONE partial row (the
    sums flattened in sorted-key order as float64). With P tasks the driver
    would receive P partial rows; tree_fold=k inserts one executor-side
    fold level (repartition the partials to k and sum within each, Spark's
    treeAggregate depth-2 shape), auto-enabled at P > 64. The driver adds
    the collected rows onto float64 zeros in collect order and returns
    (loss_sum, grad_sums, n)."""
    spark = df.sparkSession
    shapes = {k: W[k].shape for k in sorted(W)}
    bvar = spark.sparkContext.broadcast(_weights_blob(W))

    def part(batches):
        got = partial(batches, _weights_of(bvar.value))
        if got is None:
            return
        loss_sum, g, n = got
        flat = np.concatenate([g[k].reshape(-1) for k in shapes])
        yield _partial_batch(n, float(loss_sum), flat.astype(np.float64))

    try:
        partials = df.mapInArrow(part, _PARTIAL_SCHEMA)
        n_parts = df.rdd.getNumPartitions()
        if tree_fold is None and n_parts > 64:
            tree_fold = max(8, int(np.sqrt(n_parts)))
        if tree_fold:
            partials = partials.repartition(tree_fold).mapInArrow(
                _fold_arrow, _PARTIAL_SCHEMA)
        gsum = {k: np.zeros(shape, dtype=np.float64)
                for k, shape in shapes.items()}
        loss_sum = 0.0
        n = 0
        for row in partials.collect():
            n += row.n
            loss_sum += row.loss
            flat = np.frombuffer(row.grad, dtype=np.float64)
            off = 0
            for k, shape in shapes.items():
                size = int(np.prod(shape))
                gsum[k] += flat[off: off + size].reshape(shape)
                off += size
        return loss_sum, gsum, n
    finally:
        bvar.unpersist()


def spark_gradient(lines_df, W: dict[str, np.ndarray], batch: int = 16,
                   tree_fold: int | None = None,
                   augment_step: int | None = None):
    """ONE synchronous data-parallel gradient over every row of lines_df.

    Returns (loss_sum, grad_sums (float64), n_used). Each task buffers its
    partition's samples (partition row order), chunks them exactly like
    rec_train.dataset_gradient, and emits a single partial row; the driver
    folds partials in collect order.

    augment_step: when set, every sample first passes the DefaultAugmenter
    analog (kernels/augment.py) with RNG keyed on (step, line identity) —
    the gradient stays partitioning-independent with augmentation on.

    tree_fold: with P tasks the driver receives P ~1 MB partial rows —
    fine at P<=64, a driver hotspot at cluster scale. tree_fold=k inserts
    ONE executor-side fold level (repartition the partial rows to k and
    sum within each), so the driver sees k rows regardless of P (Spark's
    treeAggregate depth-2 shape). None auto-enables at P > 64."""

    def partial(batches, Wl):
        samples: list = []
        for b in batches:
            samples.extend(_rows_to_samples(b, augment_step=augment_step))
        if samples:
            return rec_train.dataset_gradient(samples, Wl, batch=batch)

    return _spark_reduce(lines_df, W, partial, tree_fold)


# --------------------------------------------------------------- training
def train_spark(lines_df, steps: int = 30, batch: int = 16, lr: float = 2e-3,
                sample_mod: int = 1, seed: int = 0,
                W: dict[str, np.ndarray] | None = None,
                log_every: int = 0,
                augment: bool = False) -> dict[str, np.ndarray]:
    """Synchronous distributed minibatch training loop.

    sample_mod=k draws ~1/k of the lines per step via a seeded hash filter
    (xxhash64(url, line_idx, step)); k=1 is full-batch. The lines table is
    cached once; per step only weights (broadcast) and per-task gradient
    partials move. augment=True runs each step's samples through the
    DefaultAugmenter analog with per-(step, line) keyed RNG (the ketos
    --augment flag)."""
    from pyspark.sql import functions as F

    if W is None:
        rng = np.random.Generator(np.random.PCG64(seed or rec_train.TRAIN_SEED))
        W = rec_train.init_weights(rng)
    W = {k: np.asarray(v, dtype=np.float32).copy() for k, v in W.items()}
    lines_df = lines_df.cache()
    opt = rec_train.Adam(W, lr=lr)
    for step in range(steps):
        df = lines_df
        if sample_mod > 1:
            df = lines_df.filter(
                F.pmod(F.xxhash64("url", "line_idx", F.lit(step + seed)), F.lit(sample_mod)) == 0
            )
        frac = step / max(1, steps - 1)
        cur_lr = lr * (0.1 + 0.9 * 0.5 * (1.0 + np.cos(np.pi * frac)))
        loss_sum, gsum, n = spark_gradient(
            df, W, batch=batch, augment_step=step if augment else None)
        if n:
            grads = {k: (g / n).astype(np.float32) for k, g in gsum.items()}
            opt.step(W, grads, lr=cur_lr)
        if log_every and (step % log_every == 0 or step == steps - 1):
            print(f"spark-train step {step:4d} n {n:5d} loss {loss_sum / max(1, n):9.4f}",
                  flush=True)
    return W


# --------------------------------------------------------------- pretrain
def line_key(url: str, line_idx: int) -> int:
    """Stable per-line key for the pretrain mask/negative RNG — derived
    from row IDENTITY (not position), so the distributed gradient is
    partitioning-independent and bit-reproducible across processes
    (zlib.crc32: stable, PYTHONHASHSEED-free)."""
    import zlib

    return zlib.crc32(f"{url}#{line_idx}".encode())


def _rows_to_pretrain_samples(batch) -> list[tuple[int, np.ndarray]]:
    us = batch.column("url").to_pylist()
    ls = batch.column("line_idx").to_pylist()
    hs = batch.column("height").to_pylist()
    ws = batch.column("width").to_pylist()
    ps = batch.column("patch").to_pylist()
    return [
        (line_key(u, li), np.frombuffer(p, dtype=np.float32).reshape(h, w))
        for u, li, h, w, p in zip(us, ls, hs, ws, ps)
    ]


def spark_pretrain_gradient(lines_df, W: dict[str, np.ndarray], step: int = 0,
                            batch: int = 16, num_negatives: int | None = None,
                            tree_fold: int | None = None):
    """ONE synchronous data-parallel CONTRASTIVE gradient (the wav2vec2
    surrogate task, kernels/rec_pretrain.py — ketos pretrain's
    lib/pretrain/model.py:148-180 step) over every row of lines_df.

    Labels are ignored: pretraining is self-supervised, so this runs on
    UNLABELED line tables too. Same partial-row shape as spark_gradient:
    weights broadcast, one ~1 MB gradient-sum row per task, optional
    executor-side tree fold. Per-line mask/negative RNG is keyed on
    (PRETRAIN_SEED, step, crc32(url#line_idx)) — the gradient SUM is
    independent of partitioning, and a single-partition run bit-equals the
    local dataset_pretrain_gradient on the same keyed samples."""
    from .kernels import rec_pretrain as rp

    kneg = num_negatives if num_negatives is not None else rp.NUM_NEGATIVES

    def partial(batches, Wl):
        from kraken_spark.kernels import rec_pretrain as rpl

        samples: list = []
        for b in batches:
            samples.extend(_rows_to_pretrain_samples(b))
        if samples:
            return rpl.dataset_pretrain_gradient(
                samples, Wl, step=step, batch=batch, num_negatives=kneg)

    return _spark_reduce(lines_df, W, partial, tree_fold)


def pretrain_spark(lines_df, steps: int = 30, batch: int = 16, lr: float = 2e-3,
                   sample_mod: int = 1, seed: int = 0,
                   num_negatives: int | None = None,
                   W: dict[str, np.ndarray] | None = None,
                   log_every: int = 0) -> dict[str, np.ndarray]:
    """Distributed contrastive pretraining loop — train_spark's shape
    (seeded hash-filter minibatches, broadcast weights, Adam at the
    driver) driving the self-supervised gradient. The result's backbone
    feeds to_recognizer_weights for CTC fine-tuning (ketos train -i)."""
    from pyspark.sql import functions as F

    from .kernels import rec_pretrain as rp

    if W is None:
        rng = np.random.Generator(np.random.PCG64(seed or rp.PRETRAIN_SEED))
        W = rp.init_pretrain_weights(rng)
    else:
        W = rp.init_pretrain_weights(
            np.random.Generator(np.random.PCG64(seed or rp.PRETRAIN_SEED)), W)
    W = {k: np.asarray(v, dtype=np.float32).copy() for k, v in W.items()}
    lines_df = lines_df.cache()
    opt = rec_train.Adam(W, lr=lr)
    for step in range(steps):
        df = lines_df
        if sample_mod > 1:
            df = lines_df.filter(
                F.pmod(F.xxhash64("url", "line_idx", F.lit(step + seed)), F.lit(sample_mod)) == 0
            )
        frac = step / max(1, steps - 1)
        cur_lr = lr * (0.1 + 0.9 * 0.5 * (1.0 + np.cos(np.pi * frac)))
        loss_sum, gsum, n = spark_pretrain_gradient(
            df, W, step=step, batch=batch, num_negatives=num_negatives)
        if n:
            grads = {k: (g / n).astype(np.float32) for k, g in gsum.items()}
            opt.step(W, rec_train.clip_grads(grads, 5.0), lr=cur_lr)
        if log_every and (step % log_every == 0 or step == steps - 1):
            print(f"spark-pretrain step {step:4d} n {n:5d} "
                  f"loss {loss_sum / max(1, n):9.4f}", flush=True)
    return W


# --------------------------------------------------------------- segtrain
SEG_PAGES_SCHEMA = "url string, h int, w int, x binary, tb binary, tr binary"
SEG_SPARK_SEED = 887001  # crop-draw keying; disjoint from corpus seed maps


def seg_pages_from_pairs(pairs):
    """GT-map rows for distributed segmenter training from (url, xml,
    image) ground-truth pairs (the ketos-segtrain input, same shape as
    --compile-dataset / --test-segmenter): per page, the pooled nlbin ink
    mask as input and the markup's baselines/regions rasterized into
    pooled target maps exactly like the in-repo trainer's GT
    (seg_train.gt_maps conventions via seg_metrics.rasterize_*).
    Unparseable pairs are skipped — compile-path garbage totality."""
    import pyarrow as pa

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from kraken_spark.kernels import binarize, png, xmlparse
        from kraken_spark.kernels.blla import _pool_or
        from kraken_spark.kernels.imgio import decode_image
        from kraken_spark.kernels.seg_metrics import (rasterize_baselines,
                                                      rasterize_regions)

        schema = pa.schema([
            pa.field("url", pa.string()), pa.field("h", pa.int32()),
            pa.field("w", pa.int32()), pa.field("x", pa.binary()),
            pa.field("tb", pa.binary()), pa.field("tr", pa.binary()),
        ])
        for b in batches:
            rows = []
            for r in b.to_pylist():
                try:
                    gt = xmlparse.parse_segmentation(r["xml"])
                    img = png.to_grayscale(decode_image(r["image"]))
                    mask = binarize.nlbin(img)
                except Exception:
                    continue
                h, w = mask.shape
                gold = [ln["baseline"] for ln in gt["lines"]
                        if ln.get("baseline")]
                regs = [rg.get("boundary") or [] for rg in
                        gt.get("regions", [])]
                # maps are 0/1 masks: ship uint8 (8x smaller rows than
                # float64 — ~1.4 MB/page), widen at the gradient task
                x = _pool_or(mask, 2).astype(np.uint8)
                if min(x.shape) < 8:
                    # degenerate page (a zero-height pooled map even
                    # crashes the conv im2col); 8 px pooled is far below
                    # any real page and keeps the gradient task total
                    continue
                tb = _pool_or(rasterize_baselines(gold, h, w), 2
                              ).astype(np.uint8)
                tr = _pool_or(rasterize_regions(regs, h, w), 2
                              ).astype(np.uint8)
                rows.append({"url": r["url"], "h": x.shape[0],
                             "w": x.shape[1], "x": x.tobytes(),
                             "tb": tb.tobytes(), "tr": tr.tobytes()})
            if rows:
                yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return pairs.mapInArrow(gen, SEG_PAGES_SCHEMA)


def spark_seg_gradient(pages_df, W: dict[str, np.ndarray], step: int = 0,
                       crop: int = 160, crops_per_page: int = 4,
                       seed: int = SEG_SPARK_SEED, augment: bool = False):
    """ONE synchronous data-parallel segmenter gradient: every page
    contributes ``crops_per_page`` crops whose positions are keyed on
    (seed, step, crc32(url)) — page identity, not partition position — so
    the gradient SUM is partitioning-independent; weights broadcast, one
    tiny (~6 kB) partial row per task. augment=True first runs each page
    through the SegmentationAugmenter analog (kernels/augment.augment_seg
    — input and target maps under one shared homography), keyed on
    (AUG_SEED, step, page identity). Returns (loss_sum, grad_sums,
    n_crops). Above 64 partitions the partial rows take spark_gradient's
    automatic executor-side fold level."""

    def partial(batches, Wl):
        from kraken_spark.kernels import seg_train as st

        Wl = {k: v.astype(np.float64) for k, v in Wl.items()}
        loss_sum = 0.0
        acc = None
        n = 0
        for b in batches:
            for r in b.to_pylist():
                x = np.frombuffer(r["x"], dtype=np.uint8).reshape(
                    r["h"], r["w"]).astype(np.float64)
                tb = np.frombuffer(r["tb"], dtype=np.uint8).reshape(
                    x.shape).astype(np.float64)
                tr = np.frombuffer(r["tr"], dtype=np.uint8).reshape(
                    x.shape).astype(np.float64)
                if augment:
                    from kraken_spark.kernels import augment as aug

                    x, tb, tr = aug.augment_seg(
                        x, tb, tr,
                        aug.rng_for(step, line_key(r["url"], 0)))
                    x = x.astype(np.float64)
                    tb = tb.astype(np.float64)
                    tr = tr.astype(np.float64)
                rng = np.random.Generator(np.random.PCG64(
                    [seed, step, line_key(r["url"], 0)]))
                for _ in range(crops_per_page):
                    cy = int(rng.integers(0, max(x.shape[0] - crop, 1)))
                    cx = int(rng.integers(0, max(x.shape[1] - crop, 1)))
                    loss, g = st.crop_gradient(x, tb, tr, Wl, cy, cx, crop)
                    loss_sum += loss
                    acc = g if acc is None else {k: acc[k] + g[k] for k in acc}
                    n += 1
        if acc is not None:
            return loss_sum, acc, n

    return _spark_reduce(pages_df, W, partial)


def train_segmenter_from_pairs(spark, pairs, out_path: str,
                               steps: int = 60, lr: float = 0.05,
                               crop: int = 160, crops_per_page: int = 4,
                               augment: bool = False) -> dict:
    """The ketos-segtrain analog under spark-submit (job.py
    --train-segmenter; reference ketos/segmentation.py:60-360 over
    lib/train.py's SegmentationModel): fit the baseline/region heatmap
    net on transcribed XML ground truth with synchronous data-parallel
    gradients (seg_train's exact loss/backprop, markup-rasterized
    targets) and write the weights in the blla_learned safetensors
    layout — loadable by blla.segment_blla via
    KRAKEN_SPARK_BLLA_NET=<path> or seg_train.load_weights."""
    from .kernels import seg_train as st

    pages = seg_pages_from_pairs(pairs).cache()
    W = st.init_weights(np.random.Generator(np.random.PCG64(20240817)))
    opt = rec_train.Adam(W)
    l0 = n0 = None
    for step in range(1, steps + 1):
        cur_lr = lr * (0.02 + 0.98 * 0.5 * (1 + np.cos(np.pi * (step - 1) / steps)))
        loss_sum, gsum, n = spark_seg_gradient(
            pages, W, step=step, crop=crop, crops_per_page=crops_per_page,
            augment=augment)
        if not n:
            raise ValueError("no usable ground-truth pages in the input")
        if l0 is None:
            l0, n0 = loss_sum, n
        opt.step(W, {k: g / n for k, g in gsum.items()}, lr=cur_lr)
    l1, _, n1 = spark_seg_gradient(pages, W, step=0, crop=crop,
                                   crops_per_page=crops_per_page)
    st.save_weights(W, out_path)
    return {"n_pages": int(pages.count()), "n_crops_per_step": int(n1),
            "loss_before": l0 / max(1, n0), "loss_after": l1 / max(1, n1),
            "model": out_path}


# ---------------------------------------------------------------- rotrain
RO_PAIRS_SCHEMA = "url string, n long, d int, x binary, y binary"


def ro_pairs_from_markup(pairs, level: str = "baselines"):
    """Reading-order training pairs from (url, xml, image) ground-truth
    markup (the ketos-rotrain input; ro_train.markup_page_pairs, at
    --level baselines or regions): one row per usable page carrying its
    packed pair-feature block. Unparseable or <2-element pages are
    skipped."""
    import pyarrow as pa

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from kraken_spark.kernels.ro_train import markup_page_pairs

        schema = pa.schema([
            pa.field("url", pa.string()), pa.field("n", pa.int64()),
            pa.field("d", pa.int32()), pa.field("x", pa.binary()),
            pa.field("y", pa.binary()),
        ])
        for b in batches:
            rows = []
            for r in b.to_pylist():
                try:
                    got = markup_page_pairs(r["xml"], level=level)
                except Exception:
                    continue
                if got is None:
                    continue
                X, y = got
                rows.append({"url": r["url"], "n": X.shape[0],
                             "d": X.shape[1], "x": X.tobytes(),
                             "y": y.tobytes()})
            if rows:
                yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return pairs.mapInArrow(gen, RO_PAIRS_SCHEMA)


def spark_ro_gradient(pairs_df, W: dict[str, np.ndarray]):
    """ONE synchronous data-parallel reading-order gradient: every page's
    pair block contributes its BCE loss/gradient SUM
    (ro_train.pair_gradient_sum); one tiny partial row per task. The sum
    over pages is partitioning-independent up to float reassociation.
    Above 64 partitions the partial rows take spark_gradient's automatic
    executor-side fold level."""

    def partial(batches, Wl):
        from kraken_spark.kernels.ro_train import pair_gradient_sum

        Wl = {k: v.astype(np.float64) for k, v in Wl.items()}
        loss_sum = 0.0
        acc = None
        n = 0
        for b in batches:
            for r in b.to_pylist():
                X = np.frombuffer(r["x"], dtype=np.float64).reshape(r["n"], r["d"])
                y = np.frombuffer(r["y"], dtype=np.float64)
                loss, g = pair_gradient_sum(X, y, Wl)
                loss_sum += loss
                acc = g if acc is None else {k: acc[k] + g[k] for k in acc}
                n += X.shape[0]
        if acc is not None:
            return loss_sum, acc, n

    return _spark_reduce(pairs_df, W, partial)


def train_ro_from_pairs(spark, pairs, out_path: str, steps: int = 300,
                        lr: float = 0.02, level: str = "baselines") -> dict:
    """The ketos-rotrain analog under spark-submit (job.py --train-ro;
    reference ketos/ro.py:38-259 over lib/ro's ROModel): fit the pairwise
    order MLP on transcribed markup's reading order with synchronous
    data-parallel full-batch gradients, write the weights in the
    ro_learned safetensors layout (KRAKEN_SPARK_RO_NET=<output> or roadd
    drives inference from them), and report the fraction of training
    pages whose greedy decode reproduces the markup order exactly."""
    from .kernels import ro_train as rt_ro
    from .kernels.ro import HIDDEN, OrderMLP

    feats = ro_pairs_from_markup(pairs, level=level).cache()
    d2 = feats.select("d").first()
    if d2 is None:
        raise ValueError("no usable ground-truth pages in the input")
    d2 = d2.d
    rng = np.random.Generator(np.random.PCG64(20240818))
    W = {
        "w1": rng.standard_normal((HIDDEN, d2)) * (2.0 / d2) ** 0.5,
        "b1": np.zeros(HIDDEN),
        "w2": rng.standard_normal(HIDDEN) * (2.0 / HIDDEN) ** 0.5,
        "b2": np.zeros(1),
    }
    opt = rec_train.Adam(W)
    l0 = n0 = None
    for step in range(1, steps + 1):
        cur_lr = lr * (0.02 + 0.98 * 0.5 * (1 + np.cos(np.pi * (step - 1) / steps)))
        loss_sum, gsum, n = spark_ro_gradient(feats, W)
        if l0 is None:
            l0, n0 = loss_sum, n
        opt.step(W, {k: g / n for k, g in gsum.items()}, lr=cur_lr)
    l1, _, n1 = spark_ro_gradient(feats, W)
    mlp = OrderMLP(W["w1"].astype(np.float32), W["b1"].astype(np.float32),
                   W["w2"].astype(np.float32), float(W["b2"][0]))
    rt_ro.save_mlp(mlp, out_path, metadata={"level": level,
                                            "trainer": "train_ro_from_pairs"})

    # distributed eval: greedy decode per page vs the markup order
    bvar = spark.sparkContext.broadcast(_weights_blob(W))

    def ev(batches):
        import pyarrow as pa

        from kraken_spark.kernels.ro import OrderMLP as M
        from kraken_spark.kernels.ro import greedy_order_decode

        Wl = {k: v.astype(np.float64) for k, v in _weights_of(bvar.value).items()}
        mm = M(Wl["w1"], Wl["b1"], Wl["w2"], float(Wl["b2"][0]))
        for b in batches:
            rows = []
            for r in b.to_pylist():
                X = np.frombuffer(r["x"], dtype=np.float64).reshape(r["n"], r["d"])
                # recover element features: pairs are golden-ordered
                # (u-major); element i's features are the first half of
                # pair row for (i, j != i)
                d_half = r["d"] // 2
                n_el = int(round((1 + np.sqrt(1 + 4 * r["n"])) / 2))
                feats_el = np.empty((n_el, d_half))
                ri = 0
                for i in range(n_el):
                    feats_el[i] = X[ri, :d_half]
                    ri += n_el - 1
                order = greedy_order_decode(mm.pair_probs(feats_el))
                rows.append({"exact": int(order == list(range(n_el)))})
            if rows:
                yield pa.RecordBatch.from_pylist(
                    rows, schema=pa.schema([pa.field("exact", pa.int32())]))

    from pyspark.sql import functions as F

    ag = feats.mapInArrow(ev, "exact int").agg(
        F.sum("exact").alias("e"), F.count("*").alias("c")).collect()[0]
    try:
        return {"n_pages": int(ag.c), "n_pairs": int(n1),
                "loss_before": l0 / max(1, n0), "loss_after": l1 / max(1, n1),
                "order_exact_pages": int(ag.e or 0), "model": out_path,
                "level": level}
    finally:
        bvar.unpersist()
