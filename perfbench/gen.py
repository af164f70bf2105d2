"""Seeded input generators for the benchmark workloads.

Every generator takes the run's seed. The amount of work a workload does is
fixed by its size arguments: the seed moves content (keys, amounts, pixels,
samples) and the order of block widths, never the total transaction or media
count, so runs with different seeds do the same amount of work.

Block documents follow the public ``getBlock`` JSON-RPC layout (jsonParsed
encoding). Each block corpus carries the error probes the ETL must isolate:
two envelopes without ``result`` and one file that is not JSON.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import struct
import zlib
from dataclasses import dataclass

import numpy as np

SLOTS_PER_DIR = 1000
N_MISSING_PROBES = 2
N_MALFORMED_PROBES = 1

_SYSTEM = "11111111111111111111111111111111"
_VOTE = "Vote111111111111111111111111111111111111111"
_TOKEN = "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"
_MEMO = "MemoSq4gqABAXKb96qnH8TysNcWxMyWCqXgDLGmfcHr"
_CLOCK = "SysvarC1ock11111111111111111111111111111111"
_MINTS = (
    ("So11111111111111111111111111111111111111112", 9),
    ("EPjFWdd5AufqSSqeM2qN1xzybapC8G4wEGGkZwyTDt1v", 6),
    ("DezXAZ8z7PnrnRJjz3wXBoRgixCa6xjnB7YaB1pPB263", 5),
)


def _key(rng: random.Random, tag: str) -> str:
    return f"{tag}{rng.getrandbits(96):024x}pk"


def _meta(fee: int, pre: list, post: list, err=None, pre_tok=(), post_tok=(), inner=()):
    return {
        "err": err,
        "fee": fee,
        "preBalances": pre,
        "postBalances": post,
        "preTokenBalances": list(pre_tok),
        "postTokenBalances": list(post_tok),
        "innerInstructions": list(inner),
    }


def _message(keys: list, slot: int, instructions: list) -> dict:
    return {
        "accountKeys": [
            {"pubkey": k, "signer": s, "writable": w} for k, s, w in keys
        ],
        "recentBlockhash": f"RecentHash{slot}",
        "instructions": instructions,
    }


def _vote(rng: random.Random, slot: int, i: int) -> dict:
    voter = _key(rng, "Vtr")
    bal = rng.randrange(10**9, 10**11)
    return {
        "meta": _meta(5000, [bal, 1, 1], [bal - 5000, 1, 1]),
        "transaction": {
            "signatures": [f"vote{slot}x{i}"],
            "message": _message(
                [(voter, True, True), (_CLOCK, False, False), (_VOTE, False, False)],
                slot,
                [{
                    "program": "vote",
                    "programId": _VOTE,
                    "parsed": {"type": "vote", "info": {"voteAccount": voter, "slots": [slot - 2, slot - 1]}},
                }],
            ),
        },
    }


def _coin(rng: random.Random, slot: int, i: int) -> dict:
    src, dst = _key(rng, "Src"), _key(rng, "Dst")
    lamports = rng.randrange(1000, 10**10)
    pre = [rng.randrange(10**10, 10**12), rng.randrange(0, 10**9), 1]
    failed = rng.random() < 0.1
    post = (
        [pre[0] - 5000, pre[1], 1]
        if failed
        else [pre[0] - 5000 - lamports, pre[1] + lamports, 1]
    )
    sigs = [f"coin{slot}x{i}"] + ([f"cosign{slot}x{i}"] if rng.random() < 0.25 else [])
    return {
        "meta": _meta(
            5000, pre, post, err={"InstructionError": [0, {"Custom": 1}]} if failed else None
        ),
        "transaction": {
            "signatures": sigs,
            "message": _message(
                [(src, True, True), (dst, False, True), (_SYSTEM, False, False)],
                slot,
                [{
                    "program": "system",
                    "programId": _SYSTEM,
                    "parsed": {
                        "type": "transfer",
                        "info": {"source": src, "destination": dst, "lamports": lamports},
                    },
                }],
            ),
        },
    }


def _token(rng: random.Random, slot: int, i: int) -> dict:
    owner, src, dst = _key(rng, "Own"), _key(rng, "TSrc"), _key(rng, "TDst")
    mint, decimals = _MINTS[rng.randrange(len(_MINTS))]
    amount = rng.randrange(1, 10**12)
    src_before = amount + rng.randrange(0, 10**12)
    dst_before = rng.randrange(0, 10**12)

    def balance(index: int, amt: int) -> dict:
        return {
            "accountIndex": index,
            "mint": mint,
            "owner": owner,
            "programId": _TOKEN,
            "uiTokenAmount": {
                "amount": str(amt),
                "decimals": decimals,
                "uiAmountString": str(amt / 10**decimals),
            },
        }

    info = {"source": src, "destination": dst, "amount": str(amount)}
    info["multisigAuthority" if rng.random() < 0.2 else "authority"] = owner
    inner = []
    if rng.random() < 0.5:
        inner = [{
            "index": 0,
            "instructions": [
                {"programId": _key(rng, "Prg"), "accounts": [src, dst], "data": f"3Bxs{rng.getrandbits(40):010x}"}
                for _ in range(rng.randrange(1, 4))
            ],
        }]
    bal = rng.randrange(10**9, 10**11)
    return {
        "meta": _meta(
            5000,
            [bal, 2039280, 2039280, 1, 1],
            [bal - 5000, 2039280, 2039280, 1, 1],
            pre_tok=(balance(1, src_before), balance(2, dst_before)),
            post_tok=(balance(1, src_before - amount), balance(2, dst_before + amount)),
            inner=inner,
        ),
        "transaction": {
            "signatures": [f"tok{slot}x{i}"],
            "message": _message(
                [(owner, True, True), (src, False, True), (dst, False, True),
                 (_TOKEN, False, False), (mint, False, False)],
                slot,
                [{"program": "spl-token", "programId": _TOKEN, "parsed": {"type": "transfer", "info": info}}],
            ),
        },
    }


def _memo(rng: random.Random, slot: int, i: int) -> dict:
    payer = _key(rng, "Mem")
    bal = rng.randrange(10**8, 10**10)
    return {
        "meta": _meta(5000, [bal, 1], [bal - 5000, 1]),
        "transaction": {
            "signatures": [f"memo{slot}x{i}"],
            "message": _message(
                [(payer, True, True), (_MEMO, False, False)],
                slot,
                # ``parsed`` is a bare string for memos: the polymorphic field
                [{"program": "spl-memo", "programId": _MEMO, "parsed": f"memo {rng.getrandbits(32):08x}"}],
            ),
        },
    }


# mainnet blocks are mostly votes; the rest is the transfer mix the tasks parse
_KINDS = ((_vote, 0.55), (_coin, 0.22), (_token, 0.15), (_memo, 0.08))


def make_block(rng: random.Random, slot: int, n_txs: int) -> dict:
    txs = []
    for i in range(n_txs):
        r = rng.random()
        for build, weight in _KINDS:
            r -= weight
            if r < 0:
                break
        txs.append(build(rng, slot, i))
    return {
        "jsonrpc": "2.0",
        "id": 1,
        "result": {
            "blockHeight": slot - 20_000,
            "blockTime": 1_700_000_000 + slot // 2,
            "blockhash": f"Hash{slot}",
            "parentSlot": slot - 1,
            "previousBlockhash": f"Hash{slot - 1}",
            "transactions": txs,
        },
    }


@dataclass(frozen=True)
class BlockCorpus:
    """Where a generated block corpus lives and the counts the ETL must
    reproduce: one ``blocks`` row per good block, one ``errors`` row per
    probe file (the generator writes no malformed transaction)."""

    root: str
    glob: str
    files: list
    n_blocks: int
    n_transactions: int
    n_probes: int


def block_widths(n_blocks: int, low: int, high: int, seed: int) -> list:
    """Transactions per block: evenly spaced over [low, high], shuffled by
    the seed, so the corpus total does not depend on the seed."""
    widths = [low + (high - low) * i // (n_blocks - 1) for i in range(n_blocks)]
    random.Random(seed).shuffle(widths)
    return widths


def write_blocks(root: str, seed: int, widths: list, first_slot: int) -> BlockCorpus:
    """One gzip JSON file per block under ``root/<slot bucket>/<slot>.json.gz``
    (the extract sink's layout), plus the error probes."""
    files = []
    rng = random.Random(f"blocks-{seed}-{first_slot}")

    def put(slot: int, body: bytes) -> None:
        d = os.path.join(root, str(slot // SLOTS_PER_DIR * SLOTS_PER_DIR))
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{slot}.json.gz")
        with open(path, "wb") as f:
            f.write(gzip.compress(body, compresslevel=1))
        files.append(path)

    for k, width in enumerate(widths):
        slot = first_slot + k
        put(slot, json.dumps(make_block(rng, slot, width)).encode())
    slot = first_slot + len(widths)
    for _ in range(N_MISSING_PROBES):
        put(slot, b'{"jsonrpc": "2.0", "id": 1}')
        slot += 1
    for _ in range(N_MALFORMED_PROBES):
        put(slot, b'{"jsonrpc": "2.0", "result": {"blockhash": ')
        slot += 1
    return BlockCorpus(
        root=root,
        glob=os.path.join(root, "*", "*.json.gz"),
        files=files,
        n_blocks=len(widths),
        n_transactions=sum(widths),
        n_probes=N_MISSING_PROBES + N_MALFORMED_PROBES,
    )


# ---------------------------------------------------------------------------
# Media: grayscale PNG and JPEG images, WAV and FLAC clips, each with the
# ground-truth pixel or sample array the payload encodes. Every 10th item is
# an exact copy or a small perturbation of the one before, so the pair
# outputs are non-empty by construction. PNG, WAV and FLAC payloads are
# written here; JPEG payloads come from the engine's own encoder.
# ---------------------------------------------------------------------------

IMG_DIMS = ((48, 32), (64, 48), (80, 48), (60, 40))
AUDIO_RATE = 8000


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", zlib.crc32(ctype + body))


def png_gray(px: np.ndarray) -> bytes:
    """Grayscale-8 PNG of ``px``. Row y is written with filter type
    1 + y % 4 (Sub, Up, Average, Paeth), so every image runs each of a
    decoder's unfilter paths."""
    h, w = px.shape
    x = px.astype(np.int16)
    left, up, upleft = np.zeros_like(x), np.zeros_like(x), np.zeros_like(x)
    left[:, 1:], up[1:], upleft[1:, 1:] = x[:, :-1], x[:-1], x[:-1, :-1]
    p = left + up - upleft
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
    paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
    predictors = (None, left, up, (left + up) // 2, paeth)
    raw = b"".join(
        bytes([1 + y % 4]) + ((x[y] - predictors[1 + y % 4][y]) & 0xFF).astype(np.uint8).tobytes()
        for y in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def wav_pcm16(rate: int, samples: np.ndarray) -> bytes:
    """Canonical 44-byte-header mono 16-bit PCM WAV."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, 2 * rate, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


FLAC_BLOCK = 1152  # samples per frame; a clip spans one to three frames
# predictor coefficients of each FLAC subframe kind: FIXED order 2, then LPC
# orders 2 and 3 (the LPC forms of FIXED orders 2 and 3)
FLAC_KINDS = (("fixed", (2, -1)), ("lpc", (2, -1)), ("lpc", (3, -3, 1)))


def _crc_table(poly: int, width: int) -> list:
    top, mask = 1 << (width - 1), (1 << width) - 1
    table = []
    for b in range(256):
        c = b << (width - 8)
        for _ in range(8):
            c = ((c << 1) ^ poly) & mask if c & top else (c << 1) & mask
        table.append(c)
    return table


_CRC8, _CRC16 = _crc_table(0x07, 8), _crc_table(0x8005, 16)


def _crc(data: bytes, table: list, width: int) -> int:
    c, shift, mask = 0, width - 8, (1 << width) - 1
    for b in data:
        c = ((c << 8) & mask) ^ table[(c >> shift) ^ b]
    return c


def _bits(value: int, n: int) -> np.ndarray:
    """The low ``n`` bits of ``value`` (two's complement), most significant first."""
    return ((value & ((1 << n) - 1)) >> np.arange(n - 1, -1, -1)) & 1


def _rice(res: np.ndarray) -> np.ndarray:
    """Rice partition (method 0, partition order 0) of ``res``: the 4-bit
    parameter with the fewest bits, then each zigzagged residual as a unary
    quotient and ``k`` low bits."""
    u = np.where(res >= 0, res << 1, ((-res) << 1) - 1)
    k = int(np.argmin([(u >> k).sum() + (k + 1) * u.size for k in range(15)]))
    q = u >> k
    lengths = q + 1 + k
    starts = np.cumsum(lengths) - lengths
    out = np.zeros(int(lengths.sum()), dtype=np.int64)
    out[starts + q] = 1
    for j in range(k):
        out[starts + q + 1 + j] = (u >> (k - 1 - j)) & 1
    return np.concatenate([_bits(0, 2), _bits(0, 4), _bits(k, 4), out])


def _subframe(block: np.ndarray, kind: str, coefs: tuple) -> np.ndarray:
    order = len(coefs)
    if block.size <= order:  # a short last frame
        return np.concatenate([_bits(1 << 1, 8)] + [_bits(int(v), 16) for v in block])
    n = block.size
    pred = sum(c * block[order - 1 - j : n - 1 - j] for j, c in enumerate(coefs))
    parts = [_bits((8 + order if kind == "fixed" else 32 + order - 1) << 1, 8)]
    parts += [_bits(int(v), 16) for v in block[:order]]
    if kind == "lpc":
        precision = max(2, max(abs(c).bit_length() for c in coefs) + 1)
        parts += [_bits(precision - 1, 4), _bits(0, 5)] + [_bits(c, precision) for c in coefs]
    parts.append(_rice(block[order:] - pred))
    return np.concatenate(parts)


def flac_pcm16(rate: int, samples: np.ndarray, kind: int) -> bytes:
    """Mono 16-bit FLAC with the STREAMINFO MD5, ``FLAC_BLOCK``-sample
    frames and subframes of ``FLAC_KINDS[kind]``."""
    x = np.asarray(samples, dtype=np.int64)
    frames = []
    for idx, start in enumerate(range(0, x.size, FLAC_BLOCK)):
        block = x[start : start + FLAC_BLOCK]
        # sync, fixed blocking; 16-bit block size follows; rate from
        # STREAMINFO; mono; 16 bits per sample; frame number (< 128)
        header = bytes([0xFF, 0xF8, 0x70, 0x08, idx]) + struct.pack(">H", block.size - 1)
        header += bytes([_crc(header, _CRC8, 8)])
        body = header + np.packbits(_subframe(block, *FLAC_KINDS[kind]).astype(np.uint8)).tobytes()
        frames.append(body + struct.pack(">H", _crc(body, _CRC16, 16)))
    info = struct.pack(">HH", FLAC_BLOCK, FLAC_BLOCK) + bytes(6)  # frame sizes unknown
    info += ((rate << 44) | (15 << 36) | x.size).to_bytes(8, "big")  # rate, mono, 16 bits, samples
    info += hashlib.md5(x.astype("<i2").tobytes()).digest()
    return b"fLaC" + bytes([0x80]) + len(info).to_bytes(3, "big") + info + b"".join(frames)


def _gray_image(rng: np.random.Generator) -> np.ndarray:
    """A random coarse brightness field, upsampled, plus fine noise: the
    coarse field decides the gradient hash, so unrelated images rarely
    collide."""
    w, h = IMG_DIMS[int(rng.integers(0, len(IMG_DIMS)))]
    coarse = rng.integers(16, 240, size=(8, 12))
    ys = np.arange(h) * 8 // h
    xs = np.arange(w) * 12 // w
    noise = rng.integers(-8, 9, size=(h, w))
    return np.clip(coarse[ys][:, xs] + noise, 0, 255).astype(np.uint8)


def _jpeg_blocks(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Quantized coefficient blocks (natural order): a DC level plus three
    low-frequency AC terms per block."""
    n = ((w + 7) // 8) * ((h + 7) // 8)
    blocks = np.zeros((n, 64), dtype=np.int64)
    blocks[:, 0] = rng.integers(-50, 51, size=n)
    for _ in range(3):
        pos = rng.integers(1, 10, size=n)
        blocks[np.arange(n), pos] = rng.integers(-6, 7, size=n)
    return blocks


def _idct_cos() -> np.ndarray:
    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    c = np.where(u == 0, np.sqrt(0.5), 1.0) * 0.5
    return c * np.cos((2 * x + 1) * u * np.pi / 16)


def jpeg_pixels(blocks: np.ndarray, w: int, h: int, qtable) -> np.ndarray:
    """Reference decode of quantized blocks: dequantize, separable float
    IDCT, level shift, round half up, clamp, crop to w x h."""
    cos = _idct_cos()
    bw, bh = (w + 7) // 8, (h + 7) // 8
    deq = (blocks * np.asarray(qtable, dtype=np.int64)).reshape(-1, 8, 8).astype(np.float64)
    pix = np.einsum("vy,nvu,ux->nyx", cos, deq, cos)
    pix = np.clip(np.floor((pix + 128.0) + 0.5), 0, 255).astype(np.int64)
    plane = pix.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    return plane[:h, :w]


def _clip(rng: np.random.Generator) -> np.ndarray:
    n = int(rng.integers(800, 3000))
    t = np.arange(n)
    freq = rng.uniform(80.0, 900.0)
    # one envelope knot per fingerprint frame or so: frame energies, and
    # so the gradient bits, are independent between unrelated clips
    knots = rng.uniform(500.0, 12000.0, size=64)
    amp = np.interp(t, np.linspace(0, n - 1, 64), knots)
    return np.round(amp * np.sin(2 * np.pi * freq * t / AUDIO_RATE)).astype(np.int64)


def _near(rng: np.random.Generator, prev: np.ndarray, lo: int, hi: int) -> np.ndarray:
    out = prev.copy()
    flat = out.reshape(-1)
    for _ in range(int(rng.integers(1, 4))):
        i = int(rng.integers(0, flat.size))
        flat[i] = min(hi, max(lo, int(flat[i]) + int(rng.integers(-3, 4))))
    return out


def images(n_images: int, seed: int) -> dict:
    """Columns (media_id, payload, pixels, width, height, codec): every 4th
    image is a baseline or progressive JPEG built coefficient-first (its
    pixels come from :func:`jpeg_pixels`), the rest grayscale PNG."""
    from solana_etl_spark.functions import jpeg

    rng = np.random.default_rng([seed, 1])
    cols = {k: [] for k in ("media_id", "payload", "pixels", "width", "height", "codec")}
    prev_png = prev_jpeg = None
    for i in range(n_images):
        if i % 4 == 3:
            if i % 40 == 39 and prev_jpeg is not None:
                payload, px = prev_jpeg
            else:
                w, h = IMG_DIMS[int(rng.integers(0, len(IMG_DIMS)))]
                blocks = _jpeg_blocks(rng, w, h)
                enc = jpeg.encode_progressive_gray_coeffs if i % 8 == 7 else jpeg.encode_gray_coeffs
                payload = enc(blocks.tolist(), w, h)
                px = jpeg_pixels(blocks, w, h, jpeg.STD_LUMA_QUANT)
            prev_jpeg = (payload, px)
            codec = "jpeg"
        else:
            if i % 10 == 9 and prev_png is not None:
                px = prev_png if i % 20 == 19 else _near(rng, prev_png, 0, 255)
            else:
                px = _gray_image(rng)
            prev_png = px
            payload = png_gray(px)
            codec = "png"
        cols["media_id"].append(i)
        cols["payload"].append(payload)
        cols["pixels"].append(px)
        cols["width"].append(px.shape[1])
        cols["height"].append(px.shape[0])
        cols["codec"].append(codec)
    return cols


def clips(n_clips: int, seed: int) -> dict:
    """Columns (media_id, payload, samples, codec): every 3rd clip is FLAC
    (cycling through the subframe kinds of ``FLAC_KINDS``), the rest 16-bit
    PCM WAV."""
    rng = np.random.default_rng([seed, 2])
    cols = {k: [] for k in ("media_id", "payload", "samples", "codec")}
    prev = None
    for i in range(n_clips):
        if i % 10 == 9 and prev is not None:
            s = prev if i % 20 == 19 else _near(rng, prev, -32768, 32767)
        else:
            s = _clip(rng)
        prev = s
        if i % 3 == 2:
            payload = flac_pcm16(AUDIO_RATE, s, i // 3 % len(FLAC_KINDS))
            codec = "flac"
        else:
            payload = wav_pcm16(AUDIO_RATE, s)
            codec = "wav"
        cols["media_id"].append(i)
        cols["payload"].append(payload)
        cols["samples"].append(s)
        cols["codec"].append(codec)
    return cols
