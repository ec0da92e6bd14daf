#!/usr/bin/env python3
"""Generate the committed JPEG DECODE fixture set for q316 (full baseline
entropy decode -> dequant -> IDCT, grayscale non-subsampled).

Files are REAL baseline JPEGs at the bitstream level: canonical Huffman
tables (carried in DHT — the decoder builds codes from the file, nothing
hardcoded), Annex-F DC difference/AC run-length coding with byte
stuffing, optional restart markers, zigzag coefficient order, zigzag-
ordered DQT. Coefficients are chosen DIRECTLY by deterministic formula
(an encoder's DCT stage is irrelevant to decoding — what matters is
that the bitstream is spec-valid and the expected pixels are known), so
the expected pixel surface is computed by the SAME fixed-point integer
IDCT the Scala decoder runs:

    pix(y, x) = clamp(128 + ((sum_{a,b} K[y][a]*K[x][b]*M[a][b]
                              + (1 << 21)) >> 22), 0, 255)

with K the 8x8 integer cosine matrix below (round(1024*c(u)*cos((2x+1)
u*pi/16)), c(0)=1/sqrt(2)) embedded AS THE SAME LITERALS in
JpegCodec.scala — integer-only arithmetic end to end, so the two
implementations cannot drift by a ULP (the q246 shared-constant
discipline applied to a whole transform).

Independent validation (the gen_pdf_fixtures.py discipline): a
standalone Huffman re-decoder below re-reads every emitted bitstream and
asserts the coefficient round-trip before the manifest is written.

Planted corruption (not in the manifest): corrupt_acrun.jpg carries a
hand-built bitstream whose AC run overruns index 63 — the decoder must
void exactly that file.
"""
import os, struct, zlib

OUT = os.path.join(os.path.dirname(__file__), "..", "fixtures", "jpeg_decode")

# shared integer IDCT matrix — keep byte-identical with JpegCodec.scala
K = [
    [724, 1004, 946, 851, 724, 569, 392, 200],
    [724, 851, 392, -200, -724, -1004, -946, -569],
    [724, 569, -392, -1004, -724, 200, 946, 851],
    [724, 200, -946, -569, 724, 851, -392, -1004],
    [724, -200, -946, 569, 724, -851, -392, 1004],
    [724, -569, -392, 1004, -724, -200, 946, -851],
    [724, -851, 392, 200, -724, 1004, -946, 569],
    [724, -1004, 946, -851, 724, -569, 392, -200],
]
ZZ = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5, 12, 19, 26,
      33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28, 35, 42, 49, 56,
      57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51, 58, 59, 52, 45, 38,
      31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]

# custom canonical Huffman tables (carried in DHT): DC categories 0..11
# all at length 4; AC (run,size) for run 0..15 x size 1..10 plus EOB and
# ZRL, all at length 8 — fixed-length canonical codes, < 255 symbols so
# the all-ones code stays unassigned.
DC_SYMS = list(range(12))
AC_SYMS = [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
DC_BITS = [0, 0, 0, 12] + [0] * 12   # counts per length 1..16
AC_BITS = [0] * 7 + [len(AC_SYMS)] + [0] * 8


def canonical(bits, syms):
    codes = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[syms[k]] = (ln, code)
            code += 1
            k += 1
        code <<= 1
    return codes


DC_CODES = canonical(DC_BITS, DC_SYMS)
AC_CODES = canonical(AC_BITS, AC_SYMS)


class BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nb = 0

    def put(self, value, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nb += 1
            if self.nb == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.nb = 0

    def align(self):
        while self.nb != 0:
            self.put(1, 1)


def category(v):
    return abs(v).bit_length()


def put_coef(bw, codes, sym_high, v):
    s = category(v)
    ln, code = codes[(sym_high << 4) | s] if codes is AC_CODES else codes[s]
    bw.put(code, ln)
    if s > 0:
        bw.put(v if v > 0 else v + (1 << s) - 1, s)


def encode_block(bw, coefs_zz, pred):
    """coefs_zz: 64 quantized coefficients in zigzag order."""
    diff = coefs_zz[0] - pred
    s = category(diff)
    ln, code = DC_CODES[s]
    bw.put(code, ln)
    if s > 0:
        bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    k = 1
    while k < 64:
        run = 0
        while k < 64 and coefs_zz[k] == 0:
            run += 1
            k += 1
        if k == 64:
            ln, code = AC_CODES[0x00]  # EOB
            bw.put(code, ln)
            break
        while run >= 16:
            ln, code = AC_CODES[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        v = coefs_zz[k]
        s = category(v)
        assert 1 <= s <= 10, f"AC category {s} out of table"
        ln, code = AC_CODES[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v > 0 else v + (1 << s) - 1, s)
        k += 1
    return coefs_zz[0]


def seg(marker, payload=b""):
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def dht_payload():
    p = bytes([0x00]) + bytes(DC_BITS) + bytes(DC_SYMS)
    p += bytes([0x10]) + bytes(AC_BITS) + bytes(AC_SYMS)
    return p


def idct_block(coefs_zz, q_zz):
    m = [[0] * 8 for _ in range(8)]
    for k in range(64):
        m[ZZ[k] // 8][ZZ[k] % 8] = coefs_zz[k] * q_zz[k]
    px = [[0] * 8 for _ in range(8)]
    for y in range(8):
        for x in range(8):
            acc = 0
            for a in range(8):
                if K[y][a] == 0:
                    continue
                inner = 0
                for b in range(8):
                    inner += K[x][b] * m[a][b]
                acc += K[y][a] * inner
            v = 128 + ((acc + (1 << 21)) >> 22)
            px[y][x] = 0 if v < 0 else (255 if v > 255 else v)
    return px


def coef_formula(bi, kind):
    """Deterministic sparse zigzag coefficients for block index bi."""
    c = [0] * 64
    # DC in [-40, 40]: pixel shift ≈ dc·q/8, so quant ≤ 24 keeps most
    # blocks unsaturated (gray_multi's dense blocks still clip at 0/255 —
    # the clamp path stays exercised there)
    c[0] = ((bi * 37) % 81) - 40
    if kind == "dc_only":
        return c
    c[1] = ((bi * 11) % 21) - 10
    c[5] = ((bi * 7) % 15) - 7
    c[17] = ((bi * 13) % 9) - 4
    if kind == "dense" and bi % 3 == 0:
        c[30] = ((bi * 5) % 7) - 3
        c[63] = 1 if bi % 2 == 0 else -1    # forces a full 63-coef walk
    if kind == "zrl" and bi % 2 == 1:
        c[1] = 0
        c[5] = 0
        c[17] = 0
        c[40] = 3                            # 39 zeros -> 2x ZRL + run 7
    return c


def build_file(width, height, kind, q_seed, rst_interval=0, jfif=True):
    assert width % 8 == 0 and height % 8 == 0
    bw_blocks = width // 8
    bh_blocks = height // 8
    n_blocks = bw_blocks * bh_blocks
    q_zz = [1 + ((q_seed * 7 + k * 5) % 24) for k in range(64)]

    head = b"\xFF\xD8"
    if jfif:
        head += seg(0xE0, b"JFIF\x00" + bytes([1, 2, 0]) + struct.pack(">HH", 72, 72) + b"\x00\x00")
    head += seg(0xDB, bytes([0x00]) + bytes(q_zz))
    sofp = bytes([8]) + struct.pack(">HH", height, width) + bytes([1, 1, 0x11, 0])
    head += seg(0xC0, sofp)
    head += seg(0xC4, dht_payload())
    if rst_interval:
        head += seg(0xDD, struct.pack(">H", rst_interval))
    head += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))

    bw = BitWriter()
    pred = 0
    blocks = []
    n_rst = 0
    body = bytearray()
    for bi in range(n_blocks):
        if rst_interval and bi > 0 and bi % rst_interval == 0:
            bw.align()
            body += bw.out
            bw = BitWriter()
            body += bytes([0xFF, 0xD0 + (n_rst % 8)])
            n_rst += 1
            pred = 0
        c = coef_formula(bi, kind)
        pred = encode_block(bw, c, pred)
        blocks.append(c)
    bw.align()
    body += bw.out
    data = head + bytes(body) + b"\xFF\xD9"

    # expected pixel surface via the shared integer IDCT
    px = [[0] * width for _ in range(height)]
    for bi, c in enumerate(blocks):
        by, bx = divmod(bi, bw_blocks)
        blk = idct_block(c, q_zz)
        for y in range(8):
            for x in range(8):
                px[by * 8 + y][bx * 8 + x] = blk[y][x]
    flat = bytes(v for row in px for v in row)
    stats = dict(width=width, height=height, n_blocks=n_blocks, n_rst=n_rst,
                 px_min=min(flat), px_max=max(flat),
                 px_sum=sum(flat), px_sqsum=sum(v * v for v in flat),
                 px_crc32=zlib.crc32(flat) & 0xFFFFFFFF)
    return data, blocks, q_zz, stats, rst_interval


# ---------------------------------------------------------------------------
# independent bitstream re-decoder (coefficient round-trip gate)
# ---------------------------------------------------------------------------
class BitReader:
    def __init__(self, b, i):
        self.b = b
        self.i = i
        self.acc = 0
        self.nb = 0

    def align_marker(self):
        self.acc = 0
        self.nb = 0

    def bit(self):
        if self.nb == 0:
            v = self.b[self.i]
            self.i += 1
            if v == 0xFF:
                assert self.b[self.i] == 0x00, "unexpected marker in scan"
                self.i += 1
            self.acc = v
            self.nb = 8
        self.nb -= 1
        return (self.acc >> self.nb) & 1

    def bits(self, n):
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def decode_stream(data, n_blocks, rst_interval):
    dec_dc = {v: k for k, v in DC_CODES.items()}
    dec_ac = {v: k for k, v in AC_CODES.items()}

    def read_code(table, br):
        ln = 0
        code = 0
        while ln < 16:
            code = (code << 1) | br.bit()
            ln += 1
            if (ln, code) in table:
                return table[(ln, code)]
        raise AssertionError("bad code")

    def extend(r, s):
        return r if r >= (1 << (s - 1)) else r - (1 << s) + 1

    sos = data.index(b"\xFF\xDA")
    ln = struct.unpack(">H", data[sos + 2:sos + 4])[0]
    br = BitReader(data, sos + 2 + ln)
    pred = 0
    out = []
    nrst = 0
    for bi in range(n_blocks):
        if rst_interval and bi > 0 and bi % rst_interval == 0:
            i = br.i
            assert data[i] == 0xFF and data[i + 1] == 0xD0 + (nrst % 8)
            br = BitReader(data, i + 2)
            nrst += 1
            pred = 0
        c = [0] * 64
        s = read_code(dec_dc, br)
        diff = extend(br.bits(s), s) if s else 0
        pred += diff
        c[0] = pred
        k = 1
        while k < 64:
            sym = read_code(dec_ac, br)
            if sym == 0x00:
                break
            if sym == 0xF0:
                k += 16
                continue
            k += sym >> 4
            s = sym & 0x0F
            assert k < 64
            c[k] = extend(br.bits(s), s)
            k += 1
        out.append(c)
    return out


def main():
    os.makedirs(OUT, exist_ok=True)
    specs = [
        ("gray_multi.jpg", 48, 32, "dense", 3, 0, True),
        ("gray_small.jpg", 16, 16, "plain", 9, 0, True),
        ("gray_dconly.jpg", 24, 8, "dc_only", 5, 0, True),
        ("gray_rst.jpg", 32, 16, "plain", 7, 2, True),
        ("gray_zrl.jpg", 16, 24, "zrl", 11, 0, True),
        # q324 planted EXACT PIXEL DUPLICATES: identical coefficients and
        # quant (same kind/dims/seed) so the decoded surfaces — and their
        # CRCs — are equal, but DIFFERENT bytes (one drops the JFIF APP0):
        # metadata-level dedup (md5 of the file) would miss them
        ("gray_dup_a.jpg", 16, 16, "plain", 13, 0, True),
        ("gray_dup_b.jpg", 16, 16, "plain", 13, 0, False),
    ]
    rows = []
    for name, w, h, kind, qs, rst, jfif in specs:
        data, blocks, q_zz, stats, rsti = build_file(w, h, kind, qs, rst, jfif)
        redec = decode_stream(data, stats["n_blocks"], rsti)
        assert redec == blocks, f"{name}: coefficient round-trip failed"
        with open(os.path.join(OUT, name), "wb") as f:
            f.write(data)
        rows.append((name, stats, len(data)))

    # corrupt: AC run walks past index 63 (4x ZRL + a (run=3,size=1) coef
    # from k=1 -> 1+64+3 > 63) — hand-built bitstream, must decode null
    q_zz = [1 + (k % 24) for k in range(64)]
    head = b"\xFF\xD8"
    head += seg(0xDB, bytes([0x00]) + bytes(q_zz))
    head += seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
    head += seg(0xC4, dht_payload())
    head += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    bw = BitWriter()
    ln, code = DC_CODES[0]
    bw.put(code, ln)  # DC diff 0
    for _ in range(4):
        ln, code = AC_CODES[0xF0]
        bw.put(code, ln)
    ln, code = AC_CODES[(3 << 4) | 1]
    bw.put(code, ln)
    bw.put(1, 1)
    bw.align()
    bad = head + bytes(bw.out) + b"\xFF\xD9"
    with open(os.path.join(OUT, "corrupt_acrun.jpg"), "wb") as f:
        f.write(bad)

    cols = ["width", "height", "n_blocks", "n_rst", "px_min", "px_max",
            "px_sum", "px_sqsum", "px_crc32"]
    with open(os.path.join(OUT, "manifest.csv"), "w") as f:
        f.write("name," + ",".join(cols) + ",n_bytes\n")
        for name, st, nb in rows:
            f.write(f"{name}," + ",".join(str(st[c]) for c in cols) + f",{nb}\n")
    print(f"wrote {len(rows)} good + 1 corrupt decode fixtures to {OUT}")


if __name__ == "__main__":
    main()


# ---------------------------------------------------------------------------
# q325: color 4:2:0 fixtures (fixtures/jpeg_color) — JFIF YCbCr->RGB in
# 2^16 fixed point; keep the four constants byte-identical with
# JpegCodec.scala (CrR/CbG/CrG/CbB)
# ---------------------------------------------------------------------------
COLOR_OUT = os.path.join(os.path.dirname(__file__), "..", "fixtures", "jpeg_color")
CR_R, CB_G, CR_G, CB_B = 91881, 22554, 46802, 116130


def color_coefs(mi, t, kind):
    """Zigzag coefficients for MCU mi, block slot t (0-3 = Y 2x2 raster,
    4 = Cb, 5 = Cr)."""
    c = [0] * 64
    bi = mi * 6 + t
    if t < 4:
        c[0] = ((bi * 29) % 81) - 40
        c[1] = ((bi * 7) % 17) - 8
        c[5] = ((bi * 11) % 13) - 6
    else:
        # chroma: gentle DC + one AC so hue varies without saturating
        c[0] = ((bi * 13) % 41) - 20
        c[2] = ((bi * 5) % 9) - 4
    if kind == "dense" and t == 0 and mi % 2 == 0:
        c[63] = 1
    return c


def build_color_file(width, height, kind, q_seed, rst_interval=0):
    assert width % 16 == 0 and height % 16 == 0
    mcu_w, mcu_h = width // 16, height // 16
    n_mcus = mcu_w * mcu_h
    q0 = [1 + ((q_seed * 7 + k * 5) % 20) for k in range(64)]
    q1 = [1 + ((q_seed * 11 + k * 3) % 16) for k in range(64)]

    head = b"\xFF\xD8"
    head += seg(0xE0, b"JFIF\x00" + bytes([1, 2, 0]) + struct.pack(">HH", 72, 72) + b"\x00\x00")
    head += seg(0xDB, bytes([0x00]) + bytes(q0) + bytes([0x01]) + bytes(q1))
    sofp = bytes([8]) + struct.pack(">HH", height, width) + bytes([3]) \
        + bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    head += seg(0xC0, sofp)
    head += seg(0xC4, dht_payload())
    if rst_interval:
        head += seg(0xDD, struct.pack(">H", rst_interval))
    head += seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))

    bw = BitWriter()
    preds = [0, 0, 0]
    body = bytearray()
    n_rst = 0
    mcu_blocks = []
    for mi in range(n_mcus):
        if rst_interval and mi > 0 and mi % rst_interval == 0:
            bw.align()
            body += bw.out
            bw = BitWriter()
            body += bytes([0xFF, 0xD0 + (n_rst % 8)])
            n_rst += 1
            preds = [0, 0, 0]
        blocks = []
        for t in range(6):
            comp = 0 if t < 4 else (1 if t == 4 else 2)
            c = color_coefs(mi, t, kind)
            # re-spell encode_block with per-component predictors
            diff = c[0] - preds[comp]
            scat = category(diff)
            ln, code = DC_CODES[scat]
            bw.put(code, ln)
            if scat > 0:
                bw.put(diff if diff > 0 else diff + (1 << scat) - 1, scat)
            preds[comp] = c[0]
            k = 1
            while k < 64:
                run = 0
                while k < 64 and c[k] == 0:
                    run += 1
                    k += 1
                if k == 64:
                    ln, code = AC_CODES[0x00]
                    bw.put(code, ln)
                    break
                while run >= 16:
                    ln, code = AC_CODES[0xF0]
                    bw.put(code, ln)
                    run -= 16
                v = c[k]
                sz = category(v)
                ln, code = AC_CODES[(run << 4) | sz]
                bw.put(code, ln)
                bw.put(v if v > 0 else v + (1 << sz) - 1, sz)
                k += 1
            blocks.append(c)
        mcu_blocks.append(blocks)
    bw.align()
    body += bw.out
    data = head + bytes(body) + b"\xFF\xD9"

    # expected RGB surface: per-MCU IDCT, NN chroma upsample, fixed-point
    # JFIF conversion — the SAME integer ops as JpegCodec's render tail
    rgb = bytearray(width * height * 3)
    pmin, pmax, psum, psq = 255, 0, 0, 0
    for mi, blocks in enumerate(mcu_blocks):
        ytile = [[0] * 16 for _ in range(16)]
        for t in range(4):
            px8 = idct_block(blocks[t], q0)
            oy, ox = (t // 2) * 8, (t % 2) * 8
            for y in range(8):
                for x in range(8):
                    ytile[oy + y][ox + x] = px8[y][x]
        cb8 = idct_block(blocks[4], q1)
        cr8 = idct_block(blocks[5], q1)
        my, mx = divmod(mi, mcu_w)
        for py in range(16):
            for px in range(16):
                yv = ytile[py][px]
                cb = cb8[py // 2][px // 2] - 128
                cr = cr8[py // 2][px // 2] - 128
                r = yv + ((CR_R * cr + 32768) >> 16)
                g = yv - ((CB_G * cb + CR_G * cr + 32768) >> 16)
                bl = yv + ((CB_B * cb + 32768) >> 16)
                r = 0 if r < 0 else (255 if r > 255 else r)
                g = 0 if g < 0 else (255 if g > 255 else g)
                bl = 0 if bl < 0 else (255 if bl > 255 else bl)
                base = ((my * 16 + py) * width + mx * 16 + px) * 3
                rgb[base], rgb[base + 1], rgb[base + 2] = r, g, bl
                for v in (r, g, bl):
                    pmin = min(pmin, v)
                    pmax = max(pmax, v)
                    psum += v
                    psq += v * v
    stats = dict(width=width, height=height, n_mcus=n_mcus, n_rst=n_rst,
                 px_min=pmin, px_max=pmax, px_sum=psum, px_sqsum=psq,
                 px_crc32=zlib.crc32(bytes(rgb)) & 0xFFFFFFFF)
    return data, stats


def gen_color():
    os.makedirs(COLOR_OUT, exist_ok=True)
    specs = [
        ("color_multi.jpg", 64, 48, "dense", 5, 0),
        ("color_small.jpg", 16, 16, "plain", 9, 0),
        ("color_rst.jpg", 48, 16, "plain", 7, 2),
        ("color_tall.jpg", 32, 64, "plain", 3, 0),
    ]
    rows = []
    for name, w, h, kind, qs, rst in specs:
        data, stats = build_color_file(w, h, kind, qs, rst)
        with open(os.path.join(COLOR_OUT, name), "wb") as f:
            f.write(data)
        rows.append((name, stats, len(data)))
    cols = ["width", "height", "n_mcus", "n_rst", "px_min", "px_max",
            "px_sum", "px_sqsum", "px_crc32"]
    with open(os.path.join(COLOR_OUT, "manifest.csv"), "w") as f:
        f.write("name," + ",".join(cols) + ",n_bytes\n")
        for name, st, nb in rows:
            f.write(f"{name}," + ",".join(str(st[c]) for c in cols) + f",{nb}\n")
    print(f"wrote {len(rows)} color fixtures to {COLOR_OUT}")



if __name__ == "__main__":
    gen_color()


# ---------------------------------------------------------------------------
# q326: PROGRESSIVE fixtures (fixtures/jpeg_prog) — ISO 10918-1 Annex G
# spectral selection + successive approximation, grayscale SOF2. The
# encoder mirrors libjpeg's jcphuff.c (EOB-run accumulation, refinement
# correction-bit buffering); the independent re-decoder below mirrors the
# DECODER side (jdphuff.c) so the coefficient round-trip is proven by two
# different algorithms. Each progressive file's expected pixel stats come
# from the SAME shared integer IDCT as baseline; prog_twin.jpg has a
# BASELINE twin built from identical coefficients, so the two entropy
# layers must land the same px_crc32.
# ---------------------------------------------------------------------------
PROG_OUT = os.path.join(os.path.dirname(__file__), "..", "fixtures", "jpeg_prog")

# AC table for progressive scans: EOBn symbols (r<<4 | 0, r 0..14) join
# ZRL and the (run,size) pairs; 176 symbols, all canonical length 8
PROG_AC_SYMS = [r << 4 for r in range(15)] + [0xF0] + \
    [(r << 4) | s for r in range(16) for s in range(1, 11)]
PROG_AC_BITS = [0] * 7 + [len(PROG_AC_SYMS)] + [0] * 8
PROG_AC_CODES = canonical(PROG_AC_BITS, PROG_AC_SYMS)


def prog_dht_payload():
    p = bytes([0x00]) + bytes(DC_BITS) + bytes(DC_SYMS)
    p += bytes([0x10]) + bytes(PROG_AC_BITS) + bytes(PROG_AC_SYMS)
    return p


def prog_coef_formula(bi, kind):
    c = [0] * 64
    c[0] = ((bi * 37) % 81) - 40
    if kind == "dc_only":
        return c
    if kind == "ac1":
        # refinement-born +-1s next to first-scan survivors
        c[1] = ((bi * 3) % 3) - 1
        c[4] = ((bi * 5) % 5) - 2
        if bi % 3 == 0:
            c[20] = 1
        if bi % 4 == 1:
            c[63] = -1
        c[9] = ((bi * 11) % 9) - 4
        return c
    if kind == "sparse1":
        # mostly-empty bands -> long EOB runs carrying correction bits
        if bi % 5 == 0:
            c[10] = ((bi * 7) % 5) - 2
        if bi % 10 == 0:
            c[33] = 1
        return c
    if kind == "zrlbr":
        # the JpegScale-caught pattern: a correction bit buffered BEFORE
        # a >=16-zero-history gap that folds into ZRLs — the flush must
        # ride the LAST fold, not the first (jcphuff.c ordering)
        c[2] = 5 if bi % 2 == 0 else -5   # refine correction bit = 1
        c[40] = 1 if bi % 3 == 0 else -1  # refine-born after a 37-zero gap
        return c
    # "rich": dense-ish with magnitudes that survive Al=2 first scans
    c[1] = ((bi * 11) % 21) - 10
    c[5] = ((bi * 7) % 15) - 7
    c[17] = ((bi * 13) % 9) - 4
    if bi % 3 == 0:
        c[30] = ((bi * 5) % 7) - 3
        c[63] = 1 if bi % 2 == 0 else -1
    if bi % 2 == 1:
        c[2] = 9 + (bi % 8)  # survives >>2
    return c


class ProgScanState:
    def __init__(self):
        self.eobrun = 0
        self.be = []  # correction bits buffered with the pending EOB run


def prog_emit_eobrun(bw, st):
    if st.eobrun > 0:
        r = st.eobrun.bit_length() - 1
        assert r <= 14
        ln, code = PROG_AC_CODES[r << 4]
        bw.put(code, ln)
        if r:
            bw.put(st.eobrun & ((1 << r) - 1), r)
        st.eobrun = 0
        for bit in st.be:
            bw.put(bit, 1)
        st.be = []


def prog_enc_dc_first(bw, cz, pred, al):
    sh = cz[0] >> al
    diff = sh - pred
    s = category(diff)
    ln, code = DC_CODES[s]
    bw.put(code, ln)
    if s > 0:
        bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    return sh


def prog_enc_ac_first(bw, st, cz, ss, se, al):
    r = 0
    for k in range(ss, se + 1):
        v = cz[k]
        t = abs(v) >> al
        if t == 0:
            r += 1
            continue
        prog_emit_eobrun(bw, st)
        while r > 15:
            ln, code = PROG_AC_CODES[0xF0]
            bw.put(code, ln)
            r -= 16
        nbits = t.bit_length()
        assert 1 <= nbits <= 10
        ln, code = PROG_AC_CODES[(r << 4) | nbits]
        bw.put(code, ln)
        vt = t if v > 0 else -t
        bw.put(vt if vt > 0 else vt + (1 << nbits) - 1, nbits)
        r = 0
    if r > 0:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            prog_emit_eobrun(bw, st)


def prog_enc_ac_refine(bw, st, cz, ss, se, al):
    p1 = 1 << al
    absv = {}
    eob = ss - 1
    for k in range(ss, se + 1):
        t = abs(cz[k]) >> al
        absv[k] = t
        if t == 1:
            eob = k
    r = 0
    br_bits = []
    for k in range(ss, se + 1):
        t = absv[k]
        if t == 0:
            r += 1
            continue
        # the ZRL fold runs for ANY nonzero temp — BEFORE the
        # already-significant branch buffers its correction bit. The
        # first cut folded only at newly-significant positions, so a
        # correction bit buffered before a >=16-zero-history gap was
        # flushed after the WRONG ZRL (jcphuff.c orders it this way;
        # JpegScale caught the divergence at file 29 of 4096 — the
        # prog_zrlbr fixture now pins the pattern at fixture scale)
        while r > 15 and k <= eob:
            prog_emit_eobrun(bw, st)
            r -= 16
            ln, code = PROG_AC_CODES[0xF0]
            bw.put(code, ln)
            for bit in br_bits:
                bw.put(bit, 1)
            br_bits = []
        if t > 1:
            br_bits.append(t & 1)
            continue
        # newly significant at this bit
        prog_emit_eobrun(bw, st)
        ln, code = PROG_AC_CODES[(r << 4) | 1]
        bw.put(code, ln)
        bw.put(1 if cz[k] > 0 else 0, 1)
        for bit in br_bits:
            bw.put(bit, 1)
        br_bits = []
        r = 0
    if r > 0 or br_bits:
        st.eobrun += 1
        st.be += br_bits
        if st.eobrun == 0x7FFF:
            prog_emit_eobrun(bw, st)


def build_prog_file(width, height, kind, q_seed, script, rst_interval=0):
    """script: list of (Ss, Se, Ah, Al) scans."""
    assert width % 8 == 0 and height % 8 == 0
    bw_blocks = width // 8
    n_blocks = bw_blocks * (height // 8)
    q_zz = [1 + ((q_seed * 7 + k * 5) % 24) for k in range(64)]
    blocks = [prog_coef_formula(bi, kind) for bi in range(n_blocks)]

    head = b"\xFF\xD8"
    head += seg(0xE0, b"JFIF\x00" + bytes([1, 2, 0]) + struct.pack(">HH", 72, 72) + b"\x00\x00")
    head += seg(0xDB, bytes([0x00]) + bytes(q_zz))
    head += seg(0xC2, bytes([8]) + struct.pack(">HH", height, width) + bytes([1, 1, 0x11, 0]))
    head += seg(0xC4, prog_dht_payload())
    if rst_interval:
        head += seg(0xDD, struct.pack(">H", rst_interval))

    body = bytearray()
    n_rst = 0
    for (ss, se, ah, al) in script:
        body += seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        bw = BitWriter()
        st = ProgScanState()
        pred = 0
        scan_bytes = bytearray()
        for bi in range(n_blocks):
            if rst_interval and bi > 0 and bi % rst_interval == 0:
                prog_emit_eobrun(bw, st)
                bw.align()
                scan_bytes += bw.out
                bw = BitWriter()
                scan_bytes += bytes([0xFF, 0xD0 + (n_rst % 8)])
                n_rst += 1
                pred = 0
            cz = blocks[bi]
            if ss == 0:
                if ah == 0:
                    pred = prog_enc_dc_first(bw, cz, pred, al)
                else:
                    bw.put((cz[0] >> al) & 1, 1)
            elif ah == 0:
                prog_enc_ac_first(bw, st, cz, ss, se, al)
            else:
                prog_enc_ac_refine(bw, st, cz, ss, se, al)
        prog_emit_eobrun(bw, st)
        bw.align()
        scan_bytes += bw.out
        body += scan_bytes
    data = head + bytes(body) + b"\xFF\xD9"

    # expected pixels via the shared integer IDCT (identical to baseline)
    px = [[0] * width for _ in range(height)]
    for bi, c in enumerate(blocks):
        by, bx = divmod(bi, bw_blocks)
        blk = idct_block(c, q_zz)
        for y in range(8):
            for x in range(8):
                px[by * 8 + y][bx * 8 + x] = blk[y][x]
    flat = bytes(v for row in px for v in row)
    stats = dict(width=width, height=height, n_blocks=n_blocks, n_rst=n_rst,
                 px_min=min(flat), px_max=max(flat),
                 px_sum=sum(flat), px_sqsum=sum(v * v for v in flat),
                 px_crc32=zlib.crc32(flat) & 0xFFFFFFFF)
    return data, blocks, q_zz, stats


# --- independent progressive re-decoder (mirrors jdphuff.c, NOT the encoder)
def decode_prog_stream(data, n_blocks):
    dec_dc = {v: k for k, v in DC_CODES.items()}
    dec_ac = {v: k for k, v in PROG_AC_CODES.items()}

    def read_code(table, br):
        ln = 0
        code = 0
        while ln < 16:
            code = (code << 1) | br.bit()
            ln += 1
            if (ln, code) in table:
                return table[(ln, code)]
        raise AssertionError("bad code")

    def extend(r, s):
        return r if r >= (1 << (s - 1)) else r - (1 << s) + 1

    coefs = [[0] * 64 for _ in range(n_blocks)]
    i = 2
    rst_interval = 0
    while True:
        assert data[i] == 0xFF
        while data[i] == 0xFF:
            i += 1
        m = data[i]
        i += 1
        if m == 0xD9:
            break
        ln = struct.unpack(">H", data[i:i + 2])[0]
        p = i + 2
        if m == 0xDD:
            rst_interval = struct.unpack(">H", data[p:p + 2])[0]
        if m != 0xDA:
            i += ln
            continue
        # SOS payload: Ns, Cs, TdTa, Ss, Se, AhAl
        ss, se = data[p + 3], data[p + 4]
        ah, al = data[p + 5] >> 4, data[p + 5] & 0x0F
        br = BitReader(data, i + ln)
        pred = 0
        eobrun = 0
        nrst_scan = 0
        p1, m1 = 1 << al, -(1 << al)
        for bi in range(n_blocks):
            if rst_interval and bi > 0 and bi % rst_interval == 0:
                j = br.i
                assert data[j] == 0xFF and 0xD0 <= data[j + 1] <= 0xD7
                br = BitReader(data, j + 2)
                nrst_scan += 1
                pred = 0
                eobrun = 0
            c = coefs[bi]
            if ss == 0:
                if ah == 0:
                    s = read_code(dec_dc, br)
                    pred += extend(br.bits(s), s) if s else 0
                    c[0] = pred << al
                else:
                    if br.bit():
                        c[0] |= p1
            elif ah == 0:
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    sym = read_code(dec_ac, br)
                    r, s = sym >> 4, sym & 0x0F
                    if s:
                        k += r
                        assert k <= se
                        c[k] = extend(br.bits(s), s) << al
                        k += 1
                    elif r != 15:
                        eobrun = (1 << r) + (br.bits(r) if r else 0) - 1
                        break
                    else:
                        k += 16
            else:
                k = ss
                if eobrun == 0:
                    while k <= se:
                        sym = read_code(dec_ac, br)
                        r, s = sym >> 4, sym & 0x0F
                        newval = 0
                        if s:
                            assert s == 1
                            newval = p1 if br.bit() else m1
                        elif r != 15:
                            eobrun = (1 << r) + (br.bits(r) if r else 0)
                            break
                        at_slot = False
                        while k <= se and not at_slot:
                            if c[k] != 0:
                                if br.bit() and (c[k] & p1) == 0:
                                    c[k] += p1 if c[k] >= 0 else m1
                                k += 1
                            else:
                                r -= 1
                                if r < 0:
                                    at_slot = True
                                else:
                                    k += 1
                        if newval:
                            assert at_slot
                            c[k] = newval
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if c[k] != 0:
                            if br.bit() and (c[k] & p1) == 0:
                                c[k] += p1 if c[k] >= 0 else m1
                        k += 1
                    eobrun -= 1
        i = br.i
    return coefs


PROG_SCRIPT_FULL = [(0, 0, 0, 1), (1, 5, 0, 2), (6, 63, 0, 2),
                    (1, 63, 2, 1), (0, 0, 1, 0), (1, 63, 1, 0)]
PROG_SCRIPT_4 = [(0, 0, 0, 0), (1, 63, 0, 1), (1, 63, 1, 0)]
PROG_SCRIPT_DC = [(0, 0, 0, 1), (0, 0, 1, 0)]
PROG_SCRIPT_RST = [(0, 0, 0, 1), (0, 0, 1, 0), (1, 63, 0, 0)]


def gen_prog():
    os.makedirs(PROG_OUT, exist_ok=True)
    specs = [
        ("prog_multi.jpg", 48, 32, "rich", 3, PROG_SCRIPT_FULL, 0),
        ("prog_small.jpg", 16, 16, "ac1", 9, PROG_SCRIPT_4, 0),
        ("prog_dconly.jpg", 24, 8, "dc_only", 5, PROG_SCRIPT_DC, 0),
        ("prog_eobrun.jpg", 32, 24, "sparse1", 11, PROG_SCRIPT_4, 0),
        ("prog_rst.jpg", 32, 16, "rich", 7, PROG_SCRIPT_RST, 2),
        ("prog_zrlbr.jpg", 24, 16, "zrlbr", 15, PROG_SCRIPT_4, 0),
        ("prog_twin.jpg", 16, 16, "ac1", 13, PROG_SCRIPT_4, 0),
    ]
    rows = []
    twin_blocks = twin_q = None
    for name, w, h, kind, qs, script, rst in specs:
        data, blocks, q_zz, stats = build_prog_file(w, h, kind, qs, script, rst)
        redec = decode_prog_stream(data, stats["n_blocks"])
        assert redec == blocks, f"{name}: progressive coefficient round-trip failed"
        with open(os.path.join(PROG_OUT, name), "wb") as f:
            f.write(data)
        rows.append((name, "progressive", stats, len(data)))
        if name == "prog_twin.jpg":
            twin_blocks, twin_q = blocks, q_zz

    # BASELINE twin: identical coefficients + quant through the q316
    # entropy layer — same expected stats row, different bytes/layer
    head = b"\xFF\xD8"
    head += seg(0xE0, b"JFIF\x00" + bytes([1, 2, 0]) + struct.pack(">HH", 72, 72) + b"\x00\x00")
    head += seg(0xDB, bytes([0x00]) + bytes(twin_q))
    head += seg(0xC0, bytes([8]) + struct.pack(">HH", 16, 16) + bytes([1, 1, 0x11, 0]))
    head += seg(0xC4, dht_payload())
    head += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    bw = BitWriter()
    pred = 0
    for c in twin_blocks:
        pred = encode_block(bw, c, pred)
    bw.align()
    base_twin = head + bytes(bw.out) + b"\xFF\xD9"
    redec = decode_stream(base_twin, len(twin_blocks), 0)
    assert redec == twin_blocks, "baseline twin round-trip failed"
    with open(os.path.join(PROG_OUT, "twin_base.jpg"), "wb") as f:
        f.write(base_twin)
    twin_stats = rows[-1][2]
    rows.append(("twin_base.jpg", "baseline", dict(twin_stats), len(base_twin)))

    # planted corruption (not in manifest): a good progressive file cut
    # mid-final-scan — the decoder must void exactly this file
    good, _, _, _ = build_prog_file(16, 16, "ac1", 9, PROG_SCRIPT_4, 0)
    with open(os.path.join(PROG_OUT, "corrupt_truncated.jpg"), "wb") as f:
        f.write(good[:len(good) - 7])

    cols = ["width", "height", "n_blocks", "n_rst", "px_min", "px_max",
            "px_sum", "px_sqsum", "px_crc32"]
    with open(os.path.join(PROG_OUT, "manifest.csv"), "w") as f:
        f.write("name,layer," + ",".join(cols) + ",n_bytes\n")
        for name, layer, st, nb in rows:
            f.write(f"{name},{layer}," + ",".join(str(st[c]) for c in cols) + f",{nb}\n")
    print(f"wrote {len(rows)} good + 1 corrupt progressive fixtures to {PROG_OUT}")


if __name__ == "__main__":
    gen_prog()


# ---------------------------------------------------------------------------
# q332: PROGRESSIVE COLOR fixtures (fixtures/jpeg_prog_color) — SOF2 +
# YCbCr 4:2:0. DC scans are INTERLEAVED (MCU order, per-component
# predictors); AC scans are NON-INTERLEAVED per Annex G — one component
# per scan, blocks in the COMPONENT'S OWN raster (Y full-resolution,
# chroma downsampled). Coefficients reuse q325's color_coefs formula so
# a BASELINE COLOR TWIN with identical coefficients pins the two entropy
# layers to one px_crc32.
# ---------------------------------------------------------------------------
PROG_COLOR_OUT = os.path.join(os.path.dirname(__file__), "..", "fixtures",
                              "jpeg_prog_color")

PROG_COLOR_SCRIPT = [
    ("dci", 0, 1),          # DC interleaved first, Al=1
    ("ac", 0, 1, 63, 0, 1), # AC per component, first, Al=1
    ("ac", 1, 1, 63, 0, 1),
    ("ac", 2, 1, 63, 0, 1),
    ("dcr", 1, 0),          # DC interleaved refinement Ah=1 Al=0
    ("ac", 0, 1, 63, 1, 0), # AC refinements
    ("ac", 1, 1, 63, 1, 0),
    ("ac", 2, 1, 63, 1, 0),
]


def comp_blocks(mcu_blocks, comp, mcu_w, mcu_h):
    """A component's blocks in ITS raster order (Y: full-res grid)."""
    if comp == 0:
        out = []
        for by in range(mcu_h * 2):
            for bx in range(mcu_w * 2):
                mi = (by // 2) * mcu_w + (bx // 2)
                out.append(mcu_blocks[mi][(by % 2) * 2 + (bx % 2)])
        return out
    return [mcu_blocks[mi][3 + comp] for mi in range(mcu_w * mcu_h)]


def build_prog_color_file(width, height, kind, q_seed):
    assert width % 16 == 0 and height % 16 == 0
    mcu_w, mcu_h = width // 16, height // 16
    n_mcus = mcu_w * mcu_h
    q0 = [1 + ((q_seed * 7 + k * 5) % 20) for k in range(64)]
    q1 = [1 + ((q_seed * 11 + k * 3) % 16) for k in range(64)]
    mcu_blocks = [[color_coefs(mi, t, kind) for t in range(6)]
                  for mi in range(n_mcus)]

    head = b"\xFF\xD8"
    head += seg(0xE0, b"JFIF\x00" + bytes([1, 2, 0]) + struct.pack(">HH", 72, 72) + b"\x00\x00")
    head += seg(0xDB, bytes([0x00]) + bytes(q0) + bytes([0x01]) + bytes(q1))
    sofp = bytes([8]) + struct.pack(">HH", height, width) + bytes([3]) \
        + bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    head += seg(0xC2, sofp)
    head += seg(0xC4, prog_dht_payload())

    body = bytearray()
    for scan in PROG_COLOR_SCRIPT:
        bw = BitWriter()
        if scan[0] in ("dci", "dcr"):
            ah, al = (0, scan[2]) if scan[0] == "dci" else (scan[1], scan[2])
            body += seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00,
                                     0, 0, (ah << 4) | al]))
            preds = [0, 0, 0]
            for mi in range(n_mcus):
                for t in range(6):
                    comp = 0 if t < 4 else t - 3
                    cz = mcu_blocks[mi][t]
                    if ah == 0:
                        preds[comp] = prog_enc_dc_first(bw, cz, preds[comp], al)
                    else:
                        bw.put((cz[0] >> al) & 1, 1)
        else:
            _, comp, ss, se, ah, al = scan
            body += seg(0xDA, bytes([1, comp + 1, 0x00, ss, se,
                                     (ah << 4) | al]))
            st = ProgScanState()
            for cz in comp_blocks(mcu_blocks, comp, mcu_w, mcu_h):
                if ah == 0:
                    prog_enc_ac_first(bw, st, cz, ss, se, al)
                else:
                    prog_enc_ac_refine(bw, st, cz, ss, se, al)
            prog_emit_eobrun(bw, st)
        bw.align()
        body += bw.out
    data = head + bytes(body) + b"\xFF\xD9"

    # expected RGB via the q325 integer recipe (same helpers)
    rgb = bytearray(width * height * 3)
    pmin, pmax, psum, psq = 255, 0, 0, 0
    for mi in range(n_mcus):
        blocks = mcu_blocks[mi]
        ytile = [[0] * 16 for _ in range(16)]
        for t in range(4):
            px8 = idct_block(blocks[t], q0)
            oy, ox = (t // 2) * 8, (t % 2) * 8
            for y in range(8):
                for x in range(8):
                    ytile[oy + y][ox + x] = px8[y][x]
        cb8 = idct_block(blocks[4], q1)
        cr8 = idct_block(blocks[5], q1)
        my, mx = divmod(mi, mcu_w)
        for py in range(16):
            for px in range(16):
                yv = ytile[py][px]
                cb = cb8[py // 2][px // 2] - 128
                cr = cr8[py // 2][px // 2] - 128
                r = yv + ((CR_R * cr + 32768) >> 16)
                g = yv - ((CB_G * cb + CR_G * cr + 32768) >> 16)
                bl = yv + ((CB_B * cb + 32768) >> 16)
                r = 0 if r < 0 else (255 if r > 255 else r)
                g = 0 if g < 0 else (255 if g > 255 else g)
                bl = 0 if bl < 0 else (255 if bl > 255 else bl)
                base = ((my * 16 + py) * width + mx * 16 + px) * 3
                rgb[base], rgb[base + 1], rgb[base + 2] = r, g, bl
                for v in (r, g, bl):
                    pmin = min(pmin, v)
                    pmax = max(pmax, v)
                    psum += v
                    psq += v * v
    stats = dict(width=width, height=height, n_mcus=n_mcus, n_rst=0,
                 px_min=pmin, px_max=pmax, px_sum=psum, px_sqsum=psq,
                 px_crc32=zlib.crc32(bytes(rgb)) & 0xFFFFFFFF)
    return data, mcu_blocks, (q0, q1), stats


def decode_prog_color_stream(data, width, height):
    """Independent re-decoder (decoder-side algorithm): returns per-MCU
    block lists matching the builder's layout."""
    mcu_w, mcu_h = width // 16, height // 16
    dec_dc = {v: k for k, v in DC_CODES.items()}
    dec_ac = {v: k for k, v in PROG_AC_CODES.items()}

    def read_code(table, br):
        ln = 0
        code = 0
        while ln < 16:
            code = (code << 1) | br.bit()
            ln += 1
            if (ln, code) in table:
                return table[(ln, code)]
        raise AssertionError("bad code")

    def extend(r, s):
        return r if r >= (1 << (s - 1)) else r - (1 << s) + 1

    # per-component rasters
    sizes = [(mcu_w * 2) * (mcu_h * 2), mcu_w * mcu_h, mcu_w * mcu_h]
    coefs = [[[0] * 64 for _ in range(sz)] for sz in sizes]
    i = 2
    while True:
        assert data[i] == 0xFF
        while data[i] == 0xFF:
            i += 1
        m = data[i]
        i += 1
        if m == 0xD9:
            break
        ln = struct.unpack(">H", data[i:i + 2])[0]
        p = i + 2
        if m != 0xDA:
            i += ln
            continue
        ns = data[p]
        ss, se = data[p + 1 + 2 * ns], data[p + 2 + 2 * ns]
        ah, al = data[p + 3 + 2 * ns] >> 4, data[p + 3 + 2 * ns] & 0x0F
        br = BitReader(data, i + ln)
        p1, m1 = 1 << al, -(1 << al)
        if ns == 3:
            preds = [0, 0, 0]
            for mi in range(mcu_w * mcu_h):
                my, mx = divmod(mi, mcu_w)
                for t in range(6):
                    comp = 0 if t < 4 else t - 3
                    if t < 4:
                        bi = (my * 2 + t // 2) * (mcu_w * 2) + (mx * 2 + t % 2)
                    else:
                        bi = mi
                    c = coefs[comp][bi]
                    if ah == 0:
                        s = read_code(dec_dc, br)
                        preds[comp] += extend(br.bits(s), s) if s else 0
                        c[0] = preds[comp] << al
                    else:
                        if br.bit():
                            c[0] |= p1
        else:
            comp = data[p + 1] - 1
            eobrun = 0
            for bi in range(sizes[comp]):
                c = coefs[comp][bi]
                if ss == 0:
                    if ah == 0:
                        s = read_code(dec_dc, br)
                        # single-component DC scan (unused by the script
                        # but mirrored for completeness)
                        raise AssertionError("script has no ns=1 DC scan")
                    else:
                        if br.bit():
                            c[0] |= p1
                elif ah == 0:
                    if eobrun > 0:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        sym = read_code(dec_ac, br)
                        r, s = sym >> 4, sym & 0x0F
                        if s:
                            k += r
                            assert k <= se
                            c[k] = extend(br.bits(s), s) << al
                            k += 1
                        elif r != 15:
                            eobrun = (1 << r) + (br.bits(r) if r else 0) - 1
                            break
                        else:
                            k += 16
                else:
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            sym = read_code(dec_ac, br)
                            r, s = sym >> 4, sym & 0x0F
                            newval = 0
                            if s:
                                assert s == 1
                                newval = p1 if br.bit() else m1
                            elif r != 15:
                                eobrun = (1 << r) + (br.bits(r) if r else 0)
                                break
                            at_slot = False
                            while k <= se and not at_slot:
                                if c[k] != 0:
                                    if br.bit() and (c[k] & p1) == 0:
                                        c[k] += p1 if c[k] >= 0 else m1
                                    k += 1
                                else:
                                    r -= 1
                                    if r < 0:
                                        at_slot = True
                                    else:
                                        k += 1
                            if newval:
                                assert at_slot
                                c[k] = newval
                            k += 1
                    if eobrun > 0:
                        while k <= se:
                            if c[k] != 0:
                                if br.bit() and (c[k] & p1) == 0:
                                    c[k] += p1 if c[k] >= 0 else m1
                            k += 1
                        eobrun -= 1
        i = br.i
    # repackage into per-MCU layout
    out = []
    for mi in range(mcu_w * mcu_h):
        my, mx = divmod(mi, mcu_w)
        blocks = []
        for t in range(4):
            bi = (my * 2 + t // 2) * (mcu_w * 2) + (mx * 2 + t % 2)
            blocks.append(coefs[0][bi])
        blocks.append(coefs[1][mi])
        blocks.append(coefs[2][mi])
        out.append(blocks)
    return out


def gen_prog_color():
    os.makedirs(PROG_COLOR_OUT, exist_ok=True)
    specs = [
        ("prog_color_multi.jpg", 64, 48, "dense", 5),
        ("prog_color_small.jpg", 16, 16, "plain", 9),
        ("prog_color_twin.jpg", 32, 32, "plain", 13),
    ]
    rows = []
    twin = None
    for name, w, h, kind, qs in specs:
        data, blocks, _, stats = build_prog_color_file(w, h, kind, qs)
        redec = decode_prog_color_stream(data, w, h)
        assert redec == blocks, f"{name}: prog-color round-trip failed"
        with open(os.path.join(PROG_COLOR_OUT, name), "wb") as f:
            f.write(data)
        rows.append((name, "progressive", stats, len(data)))
        if name == "prog_color_twin.jpg":
            twin = (w, h, kind, qs, stats)

    # baseline color twin: q325's encoder over the SAME coefficients
    w, h, kind, qs, tstats = twin
    base, bstats = build_color_file(w, h, kind, qs, 0)
    assert bstats["px_crc32"] == tstats["px_crc32"], "twin surfaces differ"
    with open(os.path.join(PROG_COLOR_OUT, "twin_base_color.jpg"), "wb") as f:
        f.write(base)
    rows.append(("twin_base_color.jpg", "baseline", dict(tstats), len(base)))

    good, _, _, _ = build_prog_color_file(16, 16, "plain", 9)
    with open(os.path.join(PROG_COLOR_OUT, "corrupt_truncated.jpg"), "wb") as f:
        f.write(good[:len(good) - 5])

    cols = ["width", "height", "n_mcus", "n_rst", "px_min", "px_max",
            "px_sum", "px_sqsum", "px_crc32"]
    with open(os.path.join(PROG_COLOR_OUT, "manifest.csv"), "w") as f:
        f.write("name,layer," + ",".join(cols) + ",n_bytes\n")
        for name, layer, st, nb in rows:
            f.write(f"{name},{layer}," + ",".join(str(st[c]) for c in cols) + f",{nb}\n")
    print(f"wrote {len(rows)} good + 1 corrupt prog-color fixtures to {PROG_COLOR_OUT}")


if __name__ == "__main__":
    gen_prog_color()
