"""Single-threaded timings of the ``dwh_spark.multimodal`` codec kernels.

Media queries spend their time in these decoders inside Python workers,
where the Spark driver cannot see it. This module times each public
decoder in the benchmark's own process over a small corpus built from
the seed with the modules' own encoders, and checks every decode
against a value known without the kernel: the lossless codecs must
return the encoder's input exactly, JPEG must come within ``JPEG_MIN_PSNR``
of it, and the two fingerprints must equal the bits their definitions
give for inputs built with a known order of cell and window energies.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from dwh_spark.multimodal import audio, audio_fp, codecs, flac, jpeg, perceptual, vp8l

IMAGE_SHAPE = (96, 128, 3)  # 128x96 RGB
AUDIO_SAMPLES = 8001  # odd, so it is one IMA ADPCM block
CORPUS = 3  # inputs per kernel
MIN_CALLS = 1  # passes over the corpus
MIN_SECONDS = 0.1  # per kernel; a kernel stops once both minimums are met
# the corpus round-trips at 21-22 dB; a gray image scores ~10 dB and an
# image shifted by one 8-pixel block ~13 dB
JPEG_MIN_PSNR = 18.0
GRID = 8  # dhash56 compares 8x8 luma cells
WINDOWS = 57  # energy_fp56 compares 57 windows


def _image(rng: np.random.Generator) -> np.ndarray:
    """A smooth gradient with noise, quantized to 6 levels per channel
    so that it fits a GIF palette."""
    h, w, _ = IMAGE_SHAPE
    y, x = np.mgrid[0:h, 0:w]
    base = np.stack([x * 255 / w, y * 255 / h, (x + y) * 255 / (w + h)], axis=-1)
    noisy = base + rng.normal(0, 24, IMAGE_SHAPE) + rng.uniform(-64, 64, 3)
    levels = np.clip(np.round(noisy / 51), 0, 5)
    return (levels * 51).astype(np.uint8)


def _cells(rng: np.random.Generator) -> tuple[np.ndarray, int]:
    """An image of uniform gray 8x8 cells plus per-pixel noise of at most
    2, and the dhash56 its cells give: bit r*7+c is set iff cell (r, c+1)
    is brighter than cell (r, c). Horizontal neighbours differ by at
    least 8, so the noise cannot flip a comparison."""
    h, w, _ = IMAGE_SHAPE
    levels = np.arange(4, 252, 8)
    grid = np.stack([rng.choice(levels, GRID, replace=False) for _ in range(GRID)])
    cells = np.repeat(np.repeat(grid, h // GRID, axis=0), w // GRID, axis=1)
    noisy = cells[:, :, None] + rng.integers(-2, 3, IMAGE_SHAPE)
    bits = (grid[:, 1:] > grid[:, :-1]).reshape(-1)
    return noisy.astype(np.uint8), sum(1 << i for i in np.flatnonzero(bits).tolist())


def _windows(rng: np.random.Generator) -> tuple[np.ndarray, int]:
    """Samples whose 57 windows each have a constant magnitude under
    random signs, and the energy_fp56 they give: bit w is set iff window
    w+1 is louder than window w. The trailing remainder is noise, which
    the fingerprint ignores."""
    win = AUDIO_SAMPLES // WINDOWS
    amp = rng.choice(np.arange(500, 30000, 500), WINDOWS, replace=False)
    signs = rng.choice(np.array([-1, 1]), (WINDOWS, win))
    tail = rng.integers(-32768, 32768, AUDIO_SAMPLES - WINDOWS * win)
    samples = np.concatenate([(amp[:, None] * signs).reshape(-1), tail])
    bits = np.flatnonzero(amp[1:] > amp[:-1]).tolist()
    return samples.astype(np.int16), sum(1 << i for i in bits)


def _psnr(out, ref: np.ndarray) -> float:
    err = np.asarray(out).reshape(ref.shape).astype(np.float64) - ref
    mse = float((err * err).mean())
    return float("inf") if mse == 0 else 10.0 * np.log10(255.0 ** 2 / mse)


def _samples(rng: np.random.Generator) -> np.ndarray:
    t = np.arange(AUDIO_SAMPLES) / 8000.0
    tone = 6000 * np.sin(2 * np.pi * rng.uniform(200, 900) * t)
    return np.clip(tone + rng.normal(0, 800, AUDIO_SAMPLES), -32768, 32767).astype(np.int16)


def _cases(rng: np.random.Generator) -> dict:
    """kernel name -> (function, inputs, check(output, index))."""
    images = [_image(rng) for _ in range(CORPUS)]
    sounds = [_samples(rng) for _ in range(CORPUS)]
    adpcm = [audio.ima_adpcm_encode_block(s) for s in sounds]
    cells = [_cells(rng) for _ in range(CORPUS)]
    windows = [_windows(rng) for _ in range(CORPUS)]

    def same_image(out, i):
        return np.array_equal(np.asarray(out).reshape(IMAGE_SHAPE), images[i])

    def same_sound(out, i):
        return np.array_equal(np.asarray(out[0]).reshape(-1), sounds[i])

    return {
        "png": (codecs.png_decode, [codecs.png_encode(a) for a in images], same_image),
        "gif": (codecs.gif_decode, [codecs.gif_encode(a) for a in images], same_image),
        "tiff": (codecs.tiff_decode, [codecs.tiff_encode(a, "lzw") for a in images],
                 same_image),
        "jpeg": (jpeg.jpeg_decode, [jpeg.jpeg_encode(a) for a in images],
                 lambda out, i: np.asarray(out).shape == IMAGE_SHAPE
                 and _psnr(out, images[i]) >= JPEG_MIN_PSNR),
        "webp": (vp8l.webp_decode, [vp8l.webp_encode(a) for a in images], same_image),
        "flac": (flac.flac_decode, [flac.flac_encode(s) for s in sounds], same_sound),
        "adpcm": (audio.ima_adpcm_decode_block, [block for block, _ in adpcm],
                  lambda out, i: np.array_equal(out, adpcm[i][1])),
        "wav": (audio.wav_decode, [audio.wav_encode(s, 8000) for s in sounds], same_sound),
        "dhash56": (perceptual.dhash56, [a for a, _ in cells],
                    lambda out, i: out == cells[i][1]),
        "energy_fp56": (audio_fp.energy_fp56, [s for s, _ in windows],
                        lambda out, i: out == windows[i][1]),
    }


def _metric(kernel: str) -> str:
    if kernel in ("dhash56", "energy_fp56"):
        return f"multimodal.{kernel}_ms"
    return f"multimodal.{kernel}.decode_ms"


def measure(seed: int) -> tuple[dict[str, float], list[str]]:
    """Median milliseconds per call of each kernel, and the kernels whose
    output was wrong."""
    rng = np.random.default_rng(seed)
    out: dict[str, float] = {}
    wrong: list[str] = []
    for kernel, (fn, inputs, check) in _cases(rng).items():
        times: list[float] = []
        start = time.perf_counter()
        calls = 0
        while calls < MIN_CALLS * len(inputs) or time.perf_counter() - start < MIN_SECONDS:
            i = calls % len(inputs)
            t0 = time.perf_counter()
            result = fn(inputs[i])
            times.append((time.perf_counter() - t0) * 1000.0)
            if calls < len(inputs) and not check(result, i):
                wrong.append(kernel)
            calls += 1
        out[_metric(kernel)] = statistics.median(times)
    return out, wrong
