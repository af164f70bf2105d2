import io
import json
import pathlib

import numpy as np

import checks
import gen


def _corpus(tmp_path, name, seed):
    return gen.write_blocks(str(tmp_path / name), seed, gen.block_widths(5, 8, 22, seed), 500_000_000)


def test_blocks_are_seeded_and_sized_independently_of_the_seed(tmp_path):
    a, b, c = _corpus(tmp_path, "a", 7), _corpus(tmp_path, "b", 7), _corpus(tmp_path, "c", 8)
    read = lambda corpus: [pathlib.Path(p).read_bytes() for p in corpus.files]  # noqa: E731
    assert read(a) == read(b)
    assert read(a) != read(c)
    assert (a.n_blocks, a.n_transactions, a.n_probes) == (c.n_blocks, c.n_transactions, c.n_probes) == (5, 74, 3)
    assert len(a.files) == a.n_blocks + a.n_probes


def test_block_documents_carry_the_declared_transactions(tmp_path):
    import gzip

    corpus = _corpus(tmp_path, "a", 3)
    docs = []
    for path in corpus.files:
        try:
            with gzip.open(path) as f:
                docs.append(json.loads(f.read()))
        except ValueError:
            docs.append(None)  # the malformed probe
    txs = sum(len(d["result"]["transactions"]) for d in docs if d and "result" in d)
    assert txs == corpus.n_transactions
    assert sum(d is None or "result" not in d for d in docs) == corpus.n_probes


def test_media_ground_truth_matches_the_payloads():
    from solana_etl_spark.functions import flac, jpeg, png, wav

    images = gen.images(120, 5)
    assert {"png", "jpeg"} <= set(images["codec"])
    for payload, px, codec in zip(images["payload"], images["pixels"], images["codec"]):
        with (jpeg if codec == "jpeg" else png).open(io.BytesIO(payload)) as im:
            got = np.frombuffer(im.tobytes(), dtype=np.uint8).reshape(px.shape)
        assert np.array_equal(got, px), codec
    clips = gen.clips(30, 5)
    assert {"wav", "flac"} <= set(clips["codec"])
    for payload, samples, codec in zip(clips["payload"], clips["samples"], clips["codec"]):
        _, got = (flac if codec == "flac" else wav).decode(payload)
        assert np.array_equal(np.asarray(got), samples), codec


def test_media_pairs_come_from_the_planted_copies():
    images = gen.images(400, 2)
    ref = checks.MediaReference.build(images, gen.clips(100, 2))
    # every 10th PNG copies or perturbs the one before, every 40th JPEG copies
    assert len(ref.pairs["images"]) >= 20
    assert len(ref.pairs["audio"]) >= 5
    assert all(a < b and 0 <= d <= 3 for a, b, d in ref.pairs["images"] | ref.pairs["audio"])


def test_near_pairs_matches_brute_force():
    rng = np.random.default_rng(0)
    hashes = rng.integers(0, 1 << 12, size=60).tolist()
    ids = list(range(100, 160))
    want = {
        (ids[i], ids[j], bin(hashes[i] ^ hashes[j]).count("1"))
        for i in range(60) for j in range(i + 1, 60)
        if bin(hashes[i] ^ hashes[j]).count("1") <= 3
    }
    assert checks.near_pairs(ids, hashes, 3) == want


def test_flac_frames_of_every_kind_and_length_decode():
    from solana_etl_spark.functions import flac

    rng = np.random.default_rng(1)
    # a short last frame (1 to 3 samples) falls back to a verbatim subframe
    for n in (1, 2, gen.FLAC_BLOCK, gen.FLAC_BLOCK + 1, gen.FLAC_BLOCK + 3, 2 * gen.FLAC_BLOCK + 500):
        samples = rng.integers(-32768, 32768, size=n)
        for kind in range(len(gen.FLAC_KINDS)):
            rate, got = flac.decode(gen.flac_pcm16(gen.AUDIO_RATE, samples, kind))
            assert rate == gen.AUDIO_RATE
            assert np.array_equal(np.asarray(got), samples), (n, kind)
