"""Regenerate the external-encoder PNG fixtures embedded in
tests/test_png_external_fixtures.py.

Uses the JDK's javax.imageio PNG encoder (via the Spark JVM, so no
extra dependency) as the independent known-good implementation: images
are built pixel-by-pixel, the STORED pixel values are read back with
getRGB (palette images quantize, so ground truth is what the image
holds, not what was requested), and the encoder's PNG bytes plus the
pinned ARGB matrices are printed as Python literals to paste into the
test. The palette case (TYPE_BYTE_INDEXED) is the one javax.imageio
adaptively filters (types 1/2/3/4), which is what cross-checks the
stdlib decoder's unfilter arithmetic against independent output.

Usage: python tools/gen_png_fixtures.py > /tmp/png_fixtures.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from sample_data_pipeline_project_spark.engine import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    BI = jvm.java.awt.image.BufferedImage
    ImageIO = jvm.javax.imageio.ImageIO
    Baos = jvm.java.io.ByteArrayOutputStream

    W, H = 24, 10

    def pattern(x: int, y: int, case: str):
        if case == "rgb":
            # smooth gradient (gives an adaptive encoder filter choices)
            r, g, b = (x * 3 + y * 2) % 256, (x + y * 5) % 256, (2 * x + y) % 256
        else:
            # high-frequency pattern hitting edge values
            r = (x * 37 + y * 11) % 256
            g = (x * 5 + y * 73) % 256
            b = (x * 97 + y * 3) % 256
        a = (x * 29 + y * 53) % 256 if case == "rgba" else 255
        return a, r, g, b

    cases = {
        "rgb": BI.TYPE_INT_RGB,
        "rgba": BI.TYPE_INT_ARGB,
        "palette": BI.TYPE_BYTE_INDEXED,
    }
    for case, typ in cases.items():
        img = BI(W, H, typ)
        for y in range(H):
            for x in range(W):
                a, r, g, b = pattern(x, y, case)
                argb = ((a & 0xFF) << 24) | (r << 16) | (g << 8) | b
                if argb >= (1 << 31):
                    argb -= 1 << 32  # py4j marshals signed 32-bit ints
                img.setRGB(x, y, argb)
        stored = [
            [(img.getRGB(x, y) + (1 << 32)) % (1 << 32) for x in range(W)]
            for y in range(H)
        ]
        baos = Baos()
        assert ImageIO.write(img, "png", baos)
        png = bytes(baos.toByteArray())
        ctype = png[8 + 8 + 9]
        print(f"# {case}: color type {ctype}, {len(png)} bytes")
        hx = png.hex()
        print(f"{case.upper()}_PNG_HEX = (")
        for i in range(0, len(hx), 72):
            print(f'    "{hx[i:i + 72]}"')
        print(")")
        print(f"{case.upper()}_ARGB = {stored}")
        print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
