"""Seeded, cached benchmark inputs.

Every table comes from the package's own generators, so the benchmark
feeds the engine the data shapes its tests use. Generation has two
levels, both cached under ``.perfbench_cache/<code hash>/`` (see
``code_hash``), so a change to the package or to the benchmark code
that makes them builds them afresh:

- a *universe* per workload and size, built once per checkout:
  ``UNIVERSE`` × rows of ``synth_images`` (ids from 0). For the images
  table every row's synthetic payload is re-encoded in a real codec,
  keeping the generator's row: its ``fmt`` picks the codec (``webp``
  rows are lossy VP8, one in ``VP8L_EVERY`` lossless VP8L), its w × h
  is divided by ``SCALE`` (the drifted partitions' shifted size and
  format distributions survive), and its pixels are rendered from the
  payload's stored pixel seed, so the generator's wrong-seed rows
  still fail the PSNR gate. This is the expensive part (a pure-Python
  JPEG or VP8L encode costs ~50 ms at these sizes), and it does not
  depend on the seed;
- a *fixture* per (workload, size, seed): the rows of the universe
  whose seeded hash picks them (about 1 in ``UNIVERSE``), with 1% of
  the rows truncated at seeded positions. Every defect the generator
  plants (duplicate ids, the hot phash key, NULL and corrupted
  captions, wrong pixel seeds, drifted partitions) therefore lands on
  different rows for each seed.

A fixture directory holds a ``manifest.json`` of its planted defects
and expected results, written last: a directory without one is
incomplete and is rebuilt.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from collections import Counter

UNIVERSE = 2
# generator sizes (320..1024 × 240..1024) ÷ SCALE: 80..256 × 60..256,
# ~19k pixels a row on average
SCALE = 4
VP8L_EVERY = 12
REAL_CODECS = ("png", "jpeg", "webp_lossy", "webp_lossless")

# the reference ships 15,664 entries (share/sanctions.yml); the
# generator adds 12 canonical personas to n_extra generated entries
SCREEN_DIM_EXTRA = 15_664 - 12
SUITE_DIM_EXTRA = 200
N_PERSONAS = 12

# invented tokens for miss probes: disjoint from every persona, the
# generator's first-name vocabulary and its "Genersson<i>" surnames
_MISS_SYLLABLES = ("zor", "qua", "vex", "plo", "mir", "thu", "kle", "dab")


def code_hash(root: str) -> str:
    """Digest of the package's sources and of the benchmark modules
    that build inputs and call the suite: the key of everything cached,
    since fixtures and expected outputs are made by that code."""
    h = hashlib.blake2b(digest_size=8)
    pkg = os.path.join(root, "perl_data_validate_sanctions_spark")
    files = [os.path.join(d, f) for d, _, fs in os.walk(pkg)
             for f in fs if f.endswith((".py", ".c", ".h"))]
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(files) + [os.path.join(here, "fixtures.py"),
                                 os.path.join(here, "workloads.py")]:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _encoder(kind: str):
    from perl_data_validate_sanctions_spark.sources import jpeg, png, webp, webp_sys

    return {
        "png": png.encode_png_gray,
        "jpeg": lambda px: jpeg.encode_jpeg_gray(px, quality=95),
        "webp_lossy": lambda px: webp_sys.encode_lossy_gray(px, quality=95),
        "webp_lossless": webp.encode_webp_gray,
    }[kind]


# bytes cut from the tail of a planted corrupt payload: truncation is
# the corruption every codec must detect (JPEG and VP8 have no checksum,
# so a flipped byte may still decode)
TRUNCATE = {"png": 20, "jpeg": 10, "webp_lossy": 15, "webp_lossless": 12}


_IMAGES = ("image_id string, bytes binary, w int, h int, fmt string, "
           "caption string, phash long, codec string, bad_seed boolean")


def _encode_batches(batches):
    """mapInPandas body: each row's synthetic payload
    (``PDVS1|fmt|w|h|pixel_seed|amp``) re-encoded in its real codec at
    w/SCALE × h/SCALE, from the pixels of the payload's own seed."""
    from perl_data_validate_sanctions_spark.sources import codec

    encoders: dict = {}
    for pdf in batches:
        blobs, ws, hs, kinds, bad = [], [], [], [], []
        for iid, blob in zip(pdf["image_id"], pdf["bytes"]):
            _, fmt, w, h, seed, _ = bytes(blob).decode().split("|")
            w, h, seed = int(w) // SCALE, int(h) // SCALE, int(seed)
            kind = fmt
            if fmt == "webp":
                kind = ("webp_lossless" if _hash("vp8l", iid, VP8L_EVERY) == 0
                        else "webp_lossy")
            enc = encoders.get(kind) or encoders.setdefault(kind, _encoder(kind))
            blobs.append(enc(codec.render(seed, w, h)))
            ws.append(w)
            hs.append(h)
            kinds.append(kind)
            bad.append(seed != codec.ref_seed_py(iid))
        pdf["bytes"], pdf["w"], pdf["h"] = blobs, ws, hs
        pdf["codec"], pdf["bad_seed"] = kinds, bad
        yield pdf


def _hash(salt: str, image_id: str, mod: int) -> int:
    # not crc32: it is affine in its input, so ids hashed under two
    # salts would fall into the same residues
    digest = hashlib.blake2b(f"{salt}|{image_id}".encode(), digest_size=8).digest()
    return int.from_bytes(digest, "little") % mod


def _parts(spark) -> int:
    return 4 * spark.sparkContext.defaultParallelism


def _subset(universe: str, seed: int, out: str, files: int, edit=None):
    """Write the seed's rows of a universe table (about one in
    ``UNIVERSE``, picked by a seeded hash of the id) as ``files``
    parquet files, passing them through ``edit(table) -> table`` first.
    Plain pyarrow: deriving a fixture starts no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(universe)
    keep = [_hash(str(seed), i, UNIVERSE) == 0
            for i in table.column("image_id").to_pylist()]
    table = table.filter(pa.array(keep))
    if edit is not None:
        table = edit(table)
    os.makedirs(out)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(out, f"part-{k:05d}.parquet"))
    return table


def _publish(tmp: str, final: str, manifest: dict) -> None:
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def _cached(final: str) -> dict | None:
    try:
        with open(os.path.join(final, "manifest.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _fresh(final: str) -> str:
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def images_universe(spark, cache: str, workload: str, n: int) -> str:
    """``UNIVERSE`` × n generator rows, every payload a real encoding."""
    from perl_data_validate_sanctions_spark.sources.synth import synth_images

    final = os.path.join(cache, f"universe-{workload}-n{n}")
    if _cached(final) is None:
        tmp = _fresh(final)
        synth_images(spark, UNIVERSE * n).repartition(_parts(spark)).mapInPandas(
            _encode_batches, _IMAGES).write.parquet(os.path.join(tmp, "images.parquet"))
        _publish(tmp, final, {"rows": UNIVERSE * n})
    return os.path.join(final, "images.parquet")


def images_fixture(spark, cache: str, workload: str, n: int,
                   seed: int) -> tuple[str, dict]:
    """The seed's images table: its rows of the universe, with 1% of
    them (seeded) truncated."""
    final = os.path.join(cache, f"{workload}-n{n}-s{seed}")
    manifest = _cached(final)
    if manifest is not None:
        return final, manifest
    universe = images_universe(spark, cache, workload, n)
    tmp = _fresh(final)
    truncated: list[str] = []
    bad_seed: list[str] = []
    codecs: list[str] = []

    def corrupt(table):
        import pyarrow as pa

        ids = table.column("image_id").to_pylist()
        codecs.extend(table.column("codec").to_pylist())
        bad_seed.extend(i for i, b in zip(ids, table.column("bad_seed").to_pylist())
                        if b)
        blobs = table.column("bytes").to_pylist()
        for k, (iid, kind) in enumerate(zip(ids, codecs)):
            if _hash(f"{seed}+1", iid, 100) == 0:
                blobs[k] = blobs[k][:-TRUNCATE[kind]]
                truncated.append(iid)
        return table.set_column(table.schema.get_field_index("bytes"), "bytes",
                                pa.array(blobs, pa.binary())).drop(["codec", "bad_seed"])

    table = _subset(universe, seed, os.path.join(tmp, "images.parquet"),
                    _parts(spark), corrupt)
    ids = table.column("image_id").to_pylist()
    per_id = Counter(ids)
    manifest = {
        "workload": workload, "seed": seed, "rows": len(ids),
        "codec_rows": {k: codecs.count(k) for k in REAL_CODECS},
        # payloads the integrity check must report: truncated here, or
        # rendered by the generator from a wrong pixel seed
        "planted_corrupt_ids": sorted(set(truncated) | set(bad_seed)),
        "truncated": len(truncated), "bad_seed": len(bad_seed),
        "dup_id_rows": sum(c for c in per_id.values() if c > 1),
        "null_captions": table.column("caption").null_count,
    }
    _publish(tmp, final, manifest)
    return final, manifest


def dimension_path(cache: str) -> str:
    return os.path.join(cache, f"dim-{N_PERSONAS + SCREEN_DIM_EXTRA}",
                        "entries.parquet")


def _dimension(spark, cache: str) -> str:
    from perl_data_validate_sanctions_spark.sources.synth import synth_entries

    final = os.path.dirname(dimension_path(cache))
    if _cached(final) is None:
        tmp = _fresh(final)
        synth_entries(spark, n_extra=SCREEN_DIM_EXTRA).write.parquet(
            os.path.join(tmp, "entries.parquet"))
        _publish(tmp, final, {"entries": N_PERSONAS + SCREEN_DIM_EXTRA})
    return os.path.join(final, "entries.parquet")


def captions_universe(spark, cache: str, n: int, entries_path: str) -> str:
    """``UNIVERSE`` × n captions and the native matcher's rows over
    them: a caption's verdict depends on nothing but the caption and
    the dimension, so a seed's expected rows are the universe's rows
    restricted to the seed's captions."""
    from perl_data_validate_sanctions_spark.operators.matcher import match_captions
    from perl_data_validate_sanctions_spark.sources.synth import synth_images

    final = os.path.join(cache, f"universe-screen-n{n}")
    if _cached(final) is None:
        tmp = _fresh(final)
        cap_path = os.path.join(tmp, "captions.parquet")
        synth_images(spark, UNIVERSE * n).select("image_id", "caption").repartition(
            _parts(spark)).write.parquet(cap_path)
        match_captions(spark.read.parquet(cap_path), spark.read.parquet(entries_path)
                       ).write.parquet(os.path.join(tmp, "native.parquet"))
        _publish(tmp, final, {"rows": UNIVERSE * n})
    return final


def _miss_token(rng: random.Random) -> str:
    return "".join(rng.choice(_MISS_SYLLABLES) for _ in range(3)).capitalize()


def probes(rng: random.Random, dim: dict, n: int) -> list[dict]:
    """A seeded probe sequence with the verdict each must get, drawn in
    equal thirds: a persona named as the reference's tests name it (no
    DOB, so the name alone decides); a generated entry's exact name
    plus a date in its DOB year; a name of invented tokens no entry
    shares."""
    personas = sorted(i for i in dim if i < N_PERSONAS)
    generated = sorted(i for i in dim if i >= N_PERSONAS)
    out = []
    for _ in range(n):
        kind = ("persona", "generated", "miss")[rng.randrange(3)]
        if kind == "miss":
            out.append({"kind": kind, "first": _miss_token(rng),
                        "last": _miss_token(rng), "dob": None,
                        "matched": 0, "list": None})
            continue
        e = dim[rng.choice(personas if kind == "persona" else generated)]
        first, _, last = e["names"][0].rpartition(" ")
        dob = None
        if kind == "generated":
            dob = "%04d-%02d-%02d" % (e["dob_year"][0], rng.randint(1, 12),
                                      rng.randint(1, 28))
        out.append({"kind": kind, "first": first or last,
                    "last": last if first else None, "dob": dob,
                    "matched": 1, "list": e["source"]})
    return out


def screen_fixture(spark, cache: str, n: int, seed: int,
                   n_probes: int) -> tuple[str, dict]:
    """The seed's captions, the reference-sized dimension, the expected
    bulk rows and the seeded probe sequence."""
    final = os.path.join(cache, f"screen-n{n}-s{seed}")
    manifest = _cached(final)
    if manifest is not None:
        return final, manifest
    import pyarrow.parquet as pq

    entries_path = _dimension(spark, cache)
    universe = captions_universe(spark, cache, n, entries_path)
    tmp = _fresh(final)
    captions = _subset(os.path.join(universe, "captions.parquet"), seed,
                       os.path.join(tmp, "captions.parquet"), _parts(spark))
    mine = set(captions.column("image_id").to_pylist())
    native = [r for r in pq.read_table(os.path.join(universe, "native.parquet"))
              .to_pylist() if r["image_id"] in mine]
    dim = {r["entry_id"]: r for r in pq.read_table(
        entries_path, columns=["entry_id", "source", "names", "dob_year"]).to_pylist()}
    manifest = {
        "workload": "screen", "seed": seed, "rows": captions.num_rows,
        "dim_entries": len(dim),
        "null_captions": captions.column("caption").null_count,
        "probes": probes(random.Random(seed), dim, n_probes),
        "native_matches": sorted([r["image_id"], r["list"], r["matched_name"]]
                                 for r in native),
    }
    _publish(tmp, final, manifest)
    return final, manifest
