"""Pure-stdlib PNG/WAV codecs and the real multimodal decode operators."""

import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from pigpen_spark.functions import codecs as C


def _manual_png(w, h, color, raw_lines: bytes) -> bytes:
    """Hand-assembled PNG so decoder tests don't depend on our encoder."""
    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(t, p):
        b = t + p
        return struct.pack(">I", len(p)) + b + struct.pack(
            ">I", zlib.crc32(b) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (sig + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw_lines)) + chunk(b"IEND", b""))


class TestPng:
    @pytest.mark.parametrize("shape", [(5, 4), (6, 7, 3), (3, 3, 4), (1, 1), (2, 300, 3)])
    @pytest.mark.parametrize("ft", [0, 2])
    def test_roundtrip(self, shape, ft):
        arr = np.random.default_rng(7).integers(0, 256, size=shape, dtype=np.uint8)
        dec = C.png_decode(C.png_encode(arr, filter_type=ft))
        ref = arr if arr.ndim == 3 else arr[:, :, None]
        assert (dec == ref).all()

    def test_meta_without_inflate(self):
        data = C.png_encode(np.zeros((11, 13, 3), dtype=np.uint8))
        assert C.png_meta(data) == (13, 11, 8, 2)

    def test_sub_and_average_filters(self):
        # row0 Sub: [10, 250] -> deltas [10, 240]
        # row1 Average: [100, 30] -> 100-(0+10)//2=95; 30-(100+250)//2 = -145 & 0xFF = 111
        raw = bytes([1, 10, 240]) + bytes([3, 95, 111])
        img = C.png_decode(_manual_png(2, 2, 0, raw))
        assert img[:, :, 0].tolist() == [[10, 250], [100, 30]]

    def test_paeth_filter(self):
        # row0 None: [10, 250]; row1 Paeth: [60, 200] -> stored [50, 206]
        raw = bytes([0, 10, 250]) + bytes([4, 50, 206])
        img = C.png_decode(_manual_png(2, 2, 0, raw))
        assert img[:, :, 0].tolist() == [[10, 250], [60, 200]]

    def test_rejects_garbage_and_unsupported(self):
        with pytest.raises(ValueError):
            C.png_meta(b"not a png at all")
        # 16-bit depth PNG header
        ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
        sig = b"\x89PNG\r\n\x1a\n"
        body = b"IHDR" + ihdr
        data = (sig + struct.pack(">I", len(ihdr)) + body
                + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))
        with pytest.raises(ValueError, match="bit depth"):
            C.png_decode(data + struct.pack(">I", 0) + b"IEND"
                         + struct.pack(">I", zlib.crc32(b"IEND") & 0xFFFFFFFF))


class TestWav:
    def test_roundtrip_mono(self):
        s = np.random.default_rng(3).integers(-3000, 3000, size=120).astype(np.int16)
        rate, out = C.wav_decode(C.wav_encode(s, 8000))
        assert rate == 8000 and (out[:, 0] == s).all()

    def test_roundtrip_stereo_and_meta(self):
        st = np.random.default_rng(4).integers(-100, 100, size=(50, 2)).astype(np.int16)
        data = C.wav_encode(st, 44100)
        assert C.wav_meta(data) == (44100, 2, 16, 50)
        rate, out = C.wav_decode(data)
        assert rate == 44100 and (out == st).all()

    def test_rejects_non_riff(self):
        with pytest.raises(ValueError):
            C.wav_meta(b"RIFX....WAVE")


class TestMultimodalReal:
    def test_image_stats_matches_numpy(self, spark):
        from pigpen_spark.functions import multimodal as M

        ids = spark.createDataFrame([(i,) for i in (0, 5, 37, 199, 450)], ["doc_id"])
        pngs = M.synth_png(ids, "doc_id")
        got = {r.id: (r.width, r.height, r.px_sum, r.px_min, r.px_max)
               for r in M.image_stats(pngs, "id").collect()}
        for i in (0, 5, 37, 199, 450):
            w, h, a = 8 + i % 16, 8 + (i // 3) % 16, i % 200
            x = np.arange(w)[None, :, None]
            y = np.arange(h)[:, None, None]
            c = np.arange(3)[None, None, :]
            arr = a + x + y + c
            assert got[i] == (w, h, int(arr.sum()), a, int(arr.max()))

    def test_decode_image_meta_real_png_path(self, spark):
        from pigpen_spark.functions import multimodal as M

        ids = spark.createDataFrame([(3,), (12,)], ["doc_id"])
        pngs = M.synth_png(ids, "doc_id")
        got = {r.id: (r.width, r.height, r.format)
               for r in M.decode_image_meta(pngs, "id").collect()}
        assert got[3] == (8 + 3 % 16, 8 + 1 % 16, "png")
        assert got[12] == (8 + 12 % 16, 8 + 4 % 16, "png")

    def test_decode_image_meta_unknown_magic_ignores_installed_pil(
            self, spark, monkeypatch):
        # an importable PIL must not change the output: unknown magic
        # still goes to the fake decoder, never fails the task
        import sys
        import types

        from pigpen_spark.functions import multimodal as M

        pil = types.ModuleType("PIL")
        pil.Image = types.ModuleType("PIL.Image")
        monkeypatch.setitem(sys.modules, "PIL", pil)
        monkeypatch.setitem(sys.modules, "PIL.Image", pil.Image)
        data = b"RIFF\x00\x00\x00\x00WEBPVP8 "
        df = spark.createDataFrame([(1, bytearray(data))], "id long, payload binary")
        r = M.decode_image_meta(df, "id").collect()[0]
        assert (r.width, r.height, r.format) == M._fake_decode(data)

    def test_audio_features_wav(self, spark):
        from pigpen_spark.functions import multimodal as M

        ids = spark.createDataFrame([(7,), (104,)], ["doc_id"])
        wavs = M.synth_wav(ids, "doc_id")
        got = {r.id: (r.n_samples, r.duration_ms, r.sample_sum, r.peak)
               for r in M.audio_features_wav(wavs, "id").collect()}
        for i in (7, 104):
            n, base, k = 100 + i % 50, (i % 100) * 10, i % 50
            s = base + (np.arange(n) % 50)
            assert got[i] == (n, n * 1000 // 8000, int(s.sum()), int(s.max()))

    def test_thumbnail_roundtrip(self, spark):
        from pigpen_spark.functions import multimodal as M

        ids = spark.createDataFrame([(9,)], ["doc_id"])
        pngs = M.synth_png(ids, "doc_id")
        t = M.image_thumbnail(pngs, "id", factor=2).collect()[0]
        i = 9
        w, h, a = 8 + i % 16, 8 + (i // 3) % 16, i % 200
        full = (a + np.arange(w)[None, :, None] + np.arange(h)[:, None, None]
                + np.arange(3)[None, None, :])
        sub = full[::2, ::2]
        assert (t.t_width, t.t_height, t.t_px_sum) == (
            sub.shape[1], sub.shape[0], int(sub.sum()))
        dec = C.png_decode(bytes(t.thumb))
        assert (dec == sub).all()


class TestGif:
    def test_roundtrip_multiframe(self):
        rng = np.random.default_rng(5)
        frames = [rng.integers(0, 256, size=(7, 9), dtype=np.uint8) for _ in range(4)]
        data = C.gif_encode(frames)
        assert C.gif_meta(data) == (9, 7, 4)
        w, h, dec = C.gif_decode(data)
        assert (w, h, len(dec)) == (9, 7, 4)
        for f, d in zip(frames, dec):
            assert (d[:, :, 0] == f).all() and (d[:, :, 2] == f).all()

    def test_custom_palette(self):
        pal = np.zeros((256, 3), dtype=np.uint8)
        pal[:, 0] = np.arange(256)          # red ramp
        pal[7] = [1, 2, 3]
        frames = [np.full((2, 2), 7, dtype=np.uint8)]
        _, _, dec = C.gif_decode(C.gif_encode(frames, palette=pal))
        assert dec[0].tolist() == [[[1, 2, 3]] * 2] * 2

    def test_rejects_garbage(self):
        with pytest.raises(ValueError):
            C.gif_meta(b"JIF89a......")

    def test_frame_sample_gif_matches_formula(self, spark):
        from pigpen_spark.functions import multimodal as M

        ids = spark.createDataFrame([(i,) for i in (0, 3, 9, 14)], ["doc_id"])
        gifs = M.synth_gif(ids, "doc_id")
        got = {(r.id, r.frame_index): r.f_px_sum
               for r in M.frame_sample_gif(gifs, "id", every_n=2).collect()}
        want = {}
        for i in (0, 3, 9, 14):
            w, h, a, n = 6 + i % 8, 6 + (i // 2) % 8, i % 200, 1 + i % 5
            for f in range(0, n, 2):
                frame = (a + f + np.arange(w)[None, :] + np.arange(h)[:, None])
                want[(i, f)] = 3 * int(frame.sum())
        assert got == want

    def test_lzw_dictionary_growth_with_real_compressor(self):
        # our encoder emits CLEAR before every pixel (no dictionary use),
        # so pin the decoder's growth/width logic against a REFERENCE GIF
        # LZW compressor building codes the standard way
        import struct

        def lzw_compress(pixels, min_code=8):
            clear, end = 1 << min_code, (1 << min_code) + 1
            table = {bytes([i]): i for i in range(1 << min_code)}
            next_code = end + 1
            width = min_code + 1
            codes = [clear]
            w = b""
            for px in pixels:
                wk = w + bytes([px])
                if wk in table:
                    w = wk
                else:
                    codes.append(table[w])
                    table[wk] = next_code
                    next_code += 1
                    if next_code > (1 << width) and width < 12:
                        width += 1
                    w = bytes([px])
            if w:
                codes.append(table[w])
            codes.append(end)
            # pack LSB-first with the same width schedule the decoder uses
            acc = nbits = 0
            out = bytearray()
            width = min_code + 1
            n_entries = end + 1
            for code in codes:
                acc |= code << nbits
                nbits += width
                while nbits >= 8:
                    out.append(acc & 0xFF)
                    acc >>= 8
                    nbits -= 8
                if code == clear:
                    n_entries = end + 1
                    width = min_code + 1
                elif code != end:
                    n_entries += 1
                    if n_entries == (1 << width) and width < 12:
                        width += 1
            if nbits:
                out.append(acc & 0xFF)
            return bytes(out)

        rng = np.random.default_rng(11)
        # repetitive data -> real dictionary reuse (the growth path)
        pixels = (list(range(10)) * 40 + [5] * 60 + list(rng.integers(0, 4, 100)))
        w, h = 30, len(pixels) // 30
        pixels = pixels[: w * h]
        lzw = lzw_compress(pixels)
        pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
        gif = bytearray(b"GIF89a") + struct.pack("<HH", w, h) + bytes([0x87, 0, 0])
        gif += pal.tobytes()
        gif += b"\x2C" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00" + bytes([8])
        for i in range(0, len(lzw), 255):
            chunk = lzw[i:i + 255]
            gif += bytes([len(chunk)]) + chunk
        gif += b"\x00\x3B"
        _, _, frames = C.gif_decode(bytes(gif))
        assert frames[0][:, :, 0].reshape(-1).tolist() == pixels


class TestJpeg:
    def test_block_constant_exact_roundtrip(self):
        blocks = np.arange(12).reshape(3, 4) * 17 + 30
        img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1).astype(np.uint8)
        data = C.jpeg_encode(img)
        assert C.jpeg_meta(data) == (32, 24, 1)
        dec = C.jpeg_decode(data)
        assert (dec[:, :, 0] == img).all()

    def test_gradient_and_noise_near_exact_at_quant1(self):
        g = (np.arange(64)[None, :] * 2 + np.arange(48)[:, None]).astype(np.uint8)
        assert np.abs(C.jpeg_decode(C.jpeg_encode(g))[:, :, 0].astype(int)
                      - g.astype(int)).max() <= 1
        n = np.random.default_rng(0).integers(0, 256, size=(16, 16), dtype=np.uint8)
        assert np.abs(C.jpeg_decode(C.jpeg_encode(n))[:, :, 0].astype(int)
                      - n.astype(int)).max() <= 1

    def test_non_multiple_of_8_dims(self):
        odd = np.random.default_rng(1).integers(0, 256, size=(10, 13), dtype=np.uint8)
        dec = C.jpeg_decode(C.jpeg_encode(odd))
        assert dec.shape == (10, 13, 1)
        assert np.abs(dec[:, :, 0].astype(int) - odd.astype(int)).max() <= 1

    def test_quantization_actually_quantizes(self):
        n = np.random.default_rng(2).integers(0, 256, size=(16, 16), dtype=np.uint8)
        q1 = len(C.jpeg_encode(n, quant=1))
        q16 = len(C.jpeg_encode(n, quant=16))
        assert q16 < q1  # coarser quant -> more zero AC -> smaller stream
        dec = C.jpeg_decode(C.jpeg_encode(n, quant=16))
        assert dec.shape == (16, 16, 1)  # still decodes

    def test_rejects_frankenstein_and_garbage(self):
        with pytest.raises(ValueError):
            C.jpeg_meta(b"\x00\x00 not a jpeg")
        # splicing an SOF2 marker onto a BASELINE scan script yields an
        # inconsistent stream (a "DC" scan with se=63): real progressive
        # decodes since round 4, but this frankenstein must still raise
        data = bytearray(C.jpeg_encode(np.zeros((8, 8), dtype=np.uint8)))
        idx = bytes(data).find(b"\xFF\xC0")
        data[idx + 1] = 0xC2
        with pytest.raises(ValueError, match="DC scan"):
            C.jpeg_decode(bytes(data))

    def test_image_stats_dispatches_jpeg(self, spark):
        from pigpen_spark.functions import multimodal as M

        ids = spark.createDataFrame([(i,) for i in (0, 5, 11)], ["doc_id"])
        jpgs = M.synth_jpeg(ids, "doc_id")
        got = {r.id: (r.width, r.height, r.channels, r.px_sum)
               for r in M.image_stats(jpgs, "id").collect()}
        for i in (0, 5, 11):
            bw, bh, a = 1 + i % 3, 1 + (i // 2) % 3, i % 200
            blocks = a + np.arange(bw)[None, :] + np.arange(bh)[:, None]
            assert got[i] == (8 * bw, 8 * bh, 1, 64 * int(blocks.sum()))

    def test_decode_image_meta_jpeg_path(self, spark):
        from pigpen_spark.functions import multimodal as M

        ids = spark.createDataFrame([(4,)], ["doc_id"])
        jpgs = M.synth_jpeg(ids, "doc_id")
        r = M.decode_image_meta(jpgs, "id").collect()[0]
        assert (r.width, r.height, r.format) == (8 * (1 + 4 % 3), 8 * (1 + 2 % 3), "jpeg")


class TestJpegColor:
    def test_color_constant_and_smooth_roundtrip(self):
        c = np.zeros((16, 16, 3), dtype=np.uint8)
        c[:, :, 0], c[:, :, 1], c[:, :, 2] = 200, 50, 120
        dec = C.jpeg_decode(C.jpeg_encode(c))
        assert dec.shape == (16, 16, 3)
        assert np.abs(dec.astype(int) - c.astype(int)).max() <= 1
        sm = np.stack([(np.arange(24)[None, :] * 3
                        + np.arange(16)[:, None]).astype(np.uint8)] * 3, axis=2)
        sm[:, :, 1] = 255 - sm[:, :, 1]
        assert np.abs(C.jpeg_decode(C.jpeg_encode(sm)).astype(int)
                      - sm.astype(int)).max() <= 1

    def test_color_noise_within_ycbcr_rounding(self):
        n = np.random.default_rng(1).integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        assert np.abs(C.jpeg_decode(C.jpeg_encode(n)).astype(int)
                      - n.astype(int)).max() <= 3
        assert C.jpeg_meta(C.jpeg_encode(n)) == (16, 16, 3)

    def test_420_subsampled_stream_hand_built(self):
        # 16x16 constant-color 4:2:0: one MCU = 4 Y blocks (h=v=2) + Cb + Cr.
        # Exercises the decoder's chroma upsampling (np.repeat path), which
        # our 4:4:4 encoder never produces.
        import struct

        y_dc, cb_dc, cr_dc = 40, -15, 25   # quantized DC values (quant 1)
        out = bytearray(b"\xFF\xD8")
        zz = bytes([1] * 64)
        out += b"\xFF\xDB" + struct.pack(">H", 67) + b"\x00" + zz
        out += b"\xFF\xC0" + struct.pack(">HBHHB", 17, 8, 16, 16, 3)
        out += bytes([1, 0x22, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0])
        for tc, (bits, values) in ((0, C._STD_DC_LUM), (0x10, C._STD_AC_LUM)):
            out += b"\xFF\xC4" + struct.pack(">H", 3 + 16 + len(values))
            out += bytes([tc]) + bytes(bits) + bytes(values)
        out += b"\xFF\xDA" + struct.pack(">H", 12) + bytes([3, 1, 0, 2, 0, 3, 0, 0, 63, 0])
        bw = C._BitWriter()
        dc_codes = C._huff_codes(*C._STD_DC_LUM)
        ac_codes = C._huff_codes(*C._STD_AC_LUM)

        def dc_only(bw_, diff):
            C._emit_coeff(bw_, dc_codes, diff, dc=True)
            bw_.write(*ac_codes[0x00])   # EOB
        # 4 Y blocks: first carries the DC, the rest diff 0
        dc_only(bw, y_dc)
        for _ in range(3):
            dc_only(bw, 0)
        dc_only(bw, cb_dc)
        dc_only(bw, cr_dc)
        bw.flush()
        out += bw.out + b"\xFF\xD9"

        dec = C.jpeg_decode(bytes(out))
        assert dec.shape == (16, 16, 3)
        # expected: constant planes Y = y_dc/8 + 128, Cb/Cr = dc/8
        y, cb, cr = y_dc / 8 + 128, cb_dc / 8, cr_dc / 8
        exp = np.clip(np.rint([y + 1.402 * cr,
                               y - 0.344136 * cb - 0.714136 * cr,
                               y + 1.772 * cb]), 0, 255).astype(int)
        assert (dec[:, :, 0] == exp[0]).all()
        assert (dec[:, :, 1] == exp[1]).all()
        assert (dec[:, :, 2] == exp[2]).all()


class TestAudioDownsample:
    def test_matches_numpy(self, spark):
        from pigpen_spark.functions import multimodal as M

        ids = spark.createDataFrame([(7,), (104,)], ["doc_id"])
        wavs = M.synth_wav(ids, "doc_id")
        got = {r.id: (r.rate_out, r.n_out, r.sample_sum_out)
               for r in M.audio_downsample(wavs, "id", factor=2).collect()}
        for i in (7, 104):
            n, base = 100 + i % 50, (i % 100) * 10
            s = base + (np.arange(n) % 50)
            d = s[::2]
            assert got[i] == (4000, len(d), int(d.sum()))

    def test_stereo_mixes_to_exact_integer_mono(self, spark):
        from pigpen_spark.functions import multimodal as M

        st = np.stack([np.arange(40), np.arange(40) + 3], axis=1).astype(np.int16)
        data = C.wav_encode(st, 8000)
        df = spark.createDataFrame([(1, bytearray(data))], "id long, payload binary")
        r = M.audio_downsample(df, "id", factor=4).collect()[0]
        mono = (st.astype(np.int64).sum(axis=1) // 2)[::4]
        assert (r.rate_out, r.n_out, r.sample_sum_out) == (2000, len(mono), int(mono.sum()))

    def test_factor_guard(self, spark):
        from pigpen_spark.functions import multimodal as M

        df = spark.createDataFrame([(1, bytearray(b""))], "id long, payload binary")
        import pytest as _pytest
        with _pytest.raises(ValueError):
            M.audio_downsample(df, "id", factor=0)


class TestMalformedInputContract:
    """Review findings: every public decode/meta raises ValueError (never
    zlib.error/IndexError/ZeroDivisionError) on malformed bytes."""

    def test_truncated_and_garbage_raise_valueerror(self):
        png = C.png_encode(np.zeros((4, 4), dtype=np.uint8))
        gif = C.gif_encode([np.zeros((4, 4), dtype=np.uint8)])
        jpg = C.jpeg_encode(np.zeros((8, 8), dtype=np.uint8))
        wav = C.wav_encode(np.zeros(10, dtype=np.int16), 8000)
        cases = [
            (C.png_decode, png[:30]),                 # truncated IDAT -> zlib
            # corrupt the IDAT interior (trailing-garbage-only is tolerated,
            # like most decoders — CRCs are deliberately not validated)
            (C.png_decode,
             png[:png.find(b"IDAT") + 8] + b"\xFF\xEE"
             + png[png.find(b"IDAT") + 10:]),
            (C.gif_decode, gif[:20]),                 # truncated -> IndexError
            (C.gif_meta, gif[:12]),
            (C.jpeg_decode, jpg[:-4]),                # entropy truncated
            (C.jpeg_decode, jpg[:40]),
            (C.jpeg_meta, jpg[:6]),
            (C.wav_decode, wav[:20]),
        ]
        for fn, data in cases:
            with pytest.raises(ValueError):
                fn(bytes(data))

    def test_wav_zero_channels_raises_valueerror(self):
        wav = bytearray(C.wav_encode(np.zeros(10, dtype=np.int16), 8000))
        # fmt chunk starts at 12+8; channels field at offset 12+8+2
        wav[22:24] = b"\x00\x00"
        with pytest.raises(ValueError):
            C.wav_meta(bytes(wav))

    def test_wav_meta_uses_first_data_chunk_like_decode(self):
        base = C.wav_encode(np.arange(10, dtype=np.int16), 8000)
        # append a second bogus data chunk with a different length
        extra = b"data" + np.int32(4).tobytes() + b"\x00" * 4
        data = base + extra
        assert C.wav_meta(data)[3] == 10
        assert C.wav_decode(data)[1].shape[0] == 10

    def test_jpeg_fill_bytes_before_markers(self):
        # T.81 B.1.1.2: markers may be preceded by extra 0xFF fill bytes
        jpg = C.jpeg_encode(np.full((8, 8), 77, dtype=np.uint8))
        padded = jpg.replace(b"\xFF\xDB", b"\xFF\xFF\xFF\xDB", 1)
        assert C.jpeg_meta(padded) == (8, 8, 1)
        assert (C.jpeg_decode(padded)[:, :, 0] == 77).all()

    def test_jpeg_meta_and_decode_handle_progressive(self):
        jpg = C.jpeg_encode_progressive(np.zeros((16, 24), dtype=np.uint8))
        assert C.jpeg_meta(jpg) == (24, 16, 1)         # meta reads SOF2
        assert (C.jpeg_decode(jpg)[:, :, 0] == 0).all()  # full decode too (r4)

    def test_decode_image_meta_quarantines_corrupt_rows(self, spark):
        from pigpen_spark.functions import multimodal as M

        good = C.png_encode(np.zeros((5, 6), dtype=np.uint8))
        rows = [(1, bytearray(good)), (2, bytearray(good[:25]))]
        df = spark.createDataFrame(rows, "id long, payload binary")
        got = {r.id: (r.width, r.format) for r in
               M.decode_image_meta(df, "id").collect()}
        assert got[1] == (6, "png")
        assert got[2] == (-1, "corrupt")   # batch survives the bad row


def test_binaryfile_scan_to_image_stats(spark, tmp_path):
    """The object-store ingestion path the module docstring promises:
    raw .png FILES on disk -> spark.read.format('binaryFile') ->
    image_stats — no parquet staging, payloads decoded where they land."""
    from pigpen_spark.functions import multimodal as M

    d = tmp_path / "imgs"
    d.mkdir()
    want = {}
    for i in (3, 8, 21):
        w, h, a = 4 + i % 5, 3 + i % 4, i * 7 % 200
        arr = (a + np.arange(w)[None, :, None] + np.arange(h)[:, None, None]
               + np.arange(3)[None, None, :]).astype(np.uint8)
        (d / f"img_{i}.png").write_bytes(C.png_encode(arr))
        want[f"img_{i}.png"] = (w, h, int(arr.sum()))
    files = (
        spark.read.format("binaryFile").load(str(d))
        .select(F.element_at(F.split("path", "/"), -1).alias("name"),
                F.col("content").alias("payload"))
    )
    got = {r.id: (r.width, r.height, r.px_sum)
           for r in M.image_stats(
               files.withColumn("id", F.xxhash64("name")), "id").join(
               files.select(F.xxhash64("name").alias("id"), "name"), "id")
           .select(F.col("name").alias("id"), "width", "height", "px_sum").collect()}
    assert got == want


class TestMp4:
    TRACKS = [
        {"handler": "vide", "codec": "avc1", "width": 640, "height": 360,
         "n_samples": 1572, "track_duration_ms": 65_400},
        {"handler": "soun", "codec": "mp4a", "width": 0, "height": 0,
         "n_samples": 3021, "track_duration_ms": 65_500},
    ]

    def test_skeleton_roundtrip(self):
        m = C.mp4_meta(C.mp4_encode_skeleton(65_500, self.TRACKS))
        assert m["duration_ms"] == 65_500 and m["n_tracks"] == 2
        assert m["tracks"][0] == self.TRACKS[0]
        assert m["tracks"][1]["codec"] == "mp4a"

    def test_largesize_box(self):
        data = bytearray(C.mp4_encode_skeleton(1000, self.TRACKS[:1]))
        # rewrite the ftyp box as a 64-bit largesize box
        (sz,) = struct.unpack(">I", data[0:4])
        body = bytes(data[8:sz])
        large = struct.pack(">I", 1) + b"ftyp" + struct.pack(">Q", 16 + len(body)) + body
        m = C.mp4_meta(large + bytes(data[sz:]))
        assert m["duration_ms"] == 1000

    def test_rejects_garbage(self):
        for bad in (b"", b"\x00\x00\x00\x08free", b"mp4 nope"):
            with pytest.raises(ValueError):
                C.mp4_meta(bad)
        with pytest.raises(ValueError):
            C.mp4_meta(C.mp4_encode_skeleton(1000, self.TRACKS)[:40])

    def test_video_meta_operator_and_quarantine(self, spark):
        from pigpen_spark.functions import multimodal as M

        good = C.mp4_encode_skeleton(2_000, self.TRACKS)
        rows = [(1, bytearray(good)), (2, bytearray(good[:30]))]
        df = spark.createDataFrame(rows, "id long, payload binary")
        got = {r.id: (r.duration_ms, r.width, r.codec, r.n_frames)
               for r in M.video_meta(df, "id").collect()}
        assert got[1] == (2_000, 640, "avc1", 1572)
        assert got[2] == (-1, -1, "corrupt", -1)


class TestFirDecimate:
    def test_constant_passes_exactly(self):
        c = np.full(200, 1234, dtype=np.int16)
        out = C.fir_decimate(c, 2)
        assert (out == 1234).all() and len(out) == 100

    def test_antialiasing_beats_naive_decimation(self):
        # tone ABOVE the new Nyquist (0.4 cycles/sample; new band is 0.25):
        # naive decimation aliases it into band at full power, the FIR
        # path attenuates it
        n = np.arange(2000)
        tone = (10_000 * np.sin(2 * np.pi * 0.4 * n)).astype(np.int16)
        naive = tone[::2].astype(np.float64)
        fir = C.fir_decimate(tone, 2).astype(np.float64)
        assert np.sqrt((fir ** 2).mean()) < 0.1 * np.sqrt((naive ** 2).mean())

    def test_inband_content_preserved(self):
        # tone well BELOW the new Nyquist survives with ~unit gain
        n = np.arange(2000)
        tone = (10_000 * np.sin(2 * np.pi * 0.05 * n)).astype(np.int16)
        fir = C.fir_decimate(tone, 2).astype(np.float64)
        ref = tone[::2].astype(np.float64)
        assert abs(np.sqrt((fir[20:-20] ** 2).mean())
                   / np.sqrt((ref[20:-20] ** 2).mean()) - 1) < 0.02

    def test_empty_and_guards(self):
        assert len(C.fir_decimate(np.array([], dtype=np.int16), 2)) == 0
        with pytest.raises(ValueError):
            C.design_lowpass(2, taps=10)
        with pytest.raises(ValueError):
            C.fir_decimate(np.zeros(5, dtype=np.int16), 0)

    def test_operator_antialias_constant_oracle_property(self, spark):
        from pigpen_spark.functions import multimodal as M

        const = np.full(120, 777, dtype=np.int16)
        df = spark.createDataFrame(
            [(1, bytearray(C.wav_encode(const, 8000)))], "id long, payload binary")
        r = M.audio_downsample(df, "id", factor=2, antialias=True).collect()[0]
        assert (r.rate_out, r.n_out, r.sample_sum_out) == (4000, 60, 777 * 60)
