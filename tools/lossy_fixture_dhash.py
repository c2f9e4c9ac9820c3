#!/usr/bin/env python3
"""Independent dhash derivation for the committed lossy-WebP fixture.

The pipeline_multimodal_e2e oracle needs the dhash bits of
src/main/resources/graft/fixtures/lossy_vp8.webp (= the libwebp-encoded
vp8_photo_q1 conformance fixture) as SQL literals, because DuckDB cannot
decode VP8.  To keep the oracle INDEPENDENT of the Scala decoder, this
script starts from the fixture's .yuv sidecar — libwebp's OWN decode,
captured by tools/make_vp8_fixtures.py via ctypes against the system
libwebp, never by graft code — and replays only graft's DOCUMENTED
post-codec arithmetic:

  1. YUV420 -> ARGB: BT.601 full-range integers with nearest-chroma
     sampling (the formula documented at Vp8.decodeArgb);
  2. per-pixel luma_permille = 299 r + 587 g + 114 b;
  3. the 9x8 luma grid with cell (x*9//w, y*8//h) and fixed-point means
     sum*65536 // count (Multimodal.lumaGrid / Dedup.gridMeans);
  4. dhash bit gy*8+gx = mean(gy,gx+1) > mean(gy,gx) (Dedup.dhashBands).

Because Vp8Spec proves the Scala decoder reproduces the .yuv byte-for-byte,
engine dhash == this derivation.  Prints the (idx, bit) VALUES rows pasted
into the pipeline_multimodal_e2e oracle (graft.queries.PipelineQueries), plus the 16-bit bands.
"""
import struct
import sys

YUV = sys.argv[1] if len(sys.argv) > 1 else \
    "src/test/resources/webp/vp8_photo_q1.yuv"

with open(YUV, "rb") as f:
    blob = f.read()
w, h = struct.unpack(">ii", blob[:8])
ysz = w * h
cw, ch = (w + 1) // 2, (h + 1) // 2
yp = blob[8:8 + ysz]
up = blob[8 + ysz:8 + ysz + cw * ch]
vp = blob[8 + ysz + cw * ch:8 + ysz + 2 * cw * ch]

def clamp(x):
    return 0 if x < 0 else 255 if x > 255 else x

sums = [0] * (9 * 8)
counts = [0] * (9 * 8)
for y in range(h):
    gy = y * 8 // h
    for x in range(w):
        c = yp[y * w + x]
        u = up[(y >> 1) * cw + (x >> 1)] - 128
        v = vp[(y >> 1) * cw + (x >> 1)] - 128
        r = clamp(c + ((91881 * v) >> 16))
        g = clamp(c - ((22554 * u + 46802 * v) >> 16))
        b = clamp(c + ((116130 * u) >> 16))
        lum = 299 * r + 587 * g + 114 * b
        cell = gy * 9 + x * 9 // w
        sums[cell] += lum
        counts[cell] += 1

means = [sums[i] * 65536 // counts[i] for i in range(72)]
bits = [0] * 64
for gy in range(8):
    for gx in range(8):
        bits[gy * 8 + gx] = 1 if means[gy * 9 + gx + 1] > means[gy * 9 + gx] else 0

bands = [0, 0, 0, 0]
for i, bit in enumerate(bits):
    if bit:
        bands[i // 16] |= 1 << (i % 16)

print(f"-- {YUV}: {w}x{h}, bands {bands}")
rows = ", ".join(f"({i}, {b})" for i, b in enumerate(bits))
print(f"(VALUES {rows}) lb(idx, bit)")
