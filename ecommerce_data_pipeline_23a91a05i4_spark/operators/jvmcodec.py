"""JVM-side image decode — the fast codec tier.

VERDICT r10 next #5: the codec seam (multimodal._decode_rgb) runs the
vendored pure-Python decoders, which decode JPEG at 3.2 Mpx/s/core.
The engine, however, always ships a JVM — and JDK 17's
``javax.imageio`` decodes baseline JPEG/PNG natively.  This module
compiles a 40-line Java UDF with the JDK's own ``javac`` at first use
(no pip/apt, no network; the toolchain is part of the Java runtime the
engine already requires), registers it as a SQL function, and exposes a
fully JVM-side decode operator: the binary column never crosses into
Python at all — strictly better than a Pandas-UDF tier for the decode
step, because it removes the Arrow transfer on the (large) pixel output
too.

Tier contract: same (width, height, w*h*3 RGB bytes) shape as
multimodal._decode_rgb.  JPEG pixel VALUES may differ from the vendored
tier by a few counts per channel (T.81 leaves IDCT precision
implementation-defined — the same caveat any two JPEG decoders
carry); PNG decode is lossless and must match the vendored codec
byte-for-byte.  Both are pinned in tests/test_multimodal.py.

Scale shape: ``decode_images_jvm`` is a column expression — it inherits
the scan's partitioning, runs inside whole-stage codegen's task loop,
and parallelizes across every executor core with zero Python workers.
At 100 TB the decode rate is (per-core ImageIO rate) x (total cores);
the bench codec probe publishes the measured per-core rate.
"""

from __future__ import annotations

import hashlib
import os
import re

import subprocess
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

#: the UDF source, embedded so the artifact is self-contained and the
#: compile cache can key on its hash.  Output layout: 4-byte
#: big-endian width, 4-byte height, then w*h*3 RGB bytes; null in =
#: null out; undecodable bytes = null (loud handling is the caller's
#: filter — SQL UDFs cannot raise per-row without failing the task).
_JAVA_SOURCE = """
import java.awt.image.BufferedImage;
import java.awt.image.DataBufferByte;
import java.io.ByteArrayInputStream;
import javax.imageio.ImageIO;
import org.apache.spark.sql.api.java.UDF1;

public class ImageDecodeRGB implements UDF1<byte[], byte[]> {
    @Override
    public byte[] call(byte[] content) throws Exception {
        if (content == null) return null;
        BufferedImage im;
        try {
            im = ImageIO.read(new ByteArrayInputStream(content));
        } catch (Exception e) {
            return null;
        }
        if (im == null) return null;
        int w = im.getWidth(), h = im.getHeight();
        byte[] out = new byte[8 + w * h * 3];
        out[0] = (byte)(w >>> 24); out[1] = (byte)(w >>> 16);
        out[2] = (byte)(w >>> 8);  out[3] = (byte) w;
        out[4] = (byte)(h >>> 24); out[5] = (byte)(h >>> 16);
        out[6] = (byte)(h >>> 8);  out[7] = (byte) h;
        int type = im.getType();
        if (type == BufferedImage.TYPE_3BYTE_BGR) {
            // ImageIO's native JPEG/PNG layout: swap in place, no
            // per-pixel color-model conversion
            byte[] bgr = ((DataBufferByte) im.getRaster()
                .getDataBuffer()).getData();
            for (int i = 0, o = 8; i < bgr.length; i += 3) {
                out[o++] = bgr[i + 2];
                out[o++] = bgr[i + 1];
                out[o++] = bgr[i];
            }
        } else if (type == BufferedImage.TYPE_BYTE_GRAY) {
            byte[] g = ((DataBufferByte) im.getRaster()
                .getDataBuffer()).getData();
            for (int i = 0, o = 8; i < g.length; i++) {
                out[o++] = g[i]; out[o++] = g[i]; out[o++] = g[i];
            }
        } else {
            // RGBA and exotic color models: getRGB converts, alpha is
            // dropped (the PIL convert("RGB") convention)
            int[] px = im.getRGB(0, 0, w, h, null, 0, w);
            for (int i = 0, o = 8; i < px.length; i++) {
                int p = px[i];
                out[o++] = (byte)(p >>> 16);
                out[o++] = (byte)(p >>> 8);
                out[o++] = (byte) p;
            }
        }
        return out;
    }
}
"""

FUNCTION_NAME = "image_decode_rgb"
_CLASS_NAME = "ImageDecodeRGB"

#: sessions (by id) the function is already registered in
_registered: set[int] = set()


def _java_major_version() -> str:
    """The major version ``javac`` reports (e.g. ``17``), or
    ``unknown`` when it can't be probed — the cache then still keys on
    something stable, and registration failures fall back anyway."""
    try:
        out = subprocess.run(
            ["javac", "-version"], capture_output=True, text=True
        )
        text = (out.stdout or "") + (out.stderr or "")
        m = re.search(r"(\d+)", text)
        return m.group(1) if m else "unknown"
    except OSError:
        return "unknown"


def _build_jar() -> str | None:
    """Compile the UDF once per (source hash, java version) into a
    cached jar under the system temp dir; return the jar path, or None
    when no ``javac`` is available (a JRE-only deployment — the caller
    falls back to the vendored Python codecs)."""
    # the cache key includes the JVM major version (ADVICE r11): a
    # class file compiled by a newer JDK must not survive a JVM
    # downgrade — ADD JAR would then fail with
    # UnsupportedClassVersionError long after this cache hit
    java_major = _java_major_version()
    key = hashlib.sha256(
        f"{_JAVA_SOURCE}|java{java_major}".encode()
    ).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(), f"ecommerce_jvmcodec_{key}"
    )
    jar = os.path.join(root, "imagedecode.jar")
    if os.path.exists(jar):
        return jar
    import pyspark

    spark_jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    os.makedirs(root, exist_ok=True)
    src = os.path.join(root, f"{_CLASS_NAME}.java")
    with open(src, "w") as fh:
        fh.write(_JAVA_SOURCE)
    try:
        subprocess.run(
            ["javac", "-cp", spark_jars + "/*", "-d", root, src],
            check=True,
            capture_output=True,
        )
        tmp_jar = jar + ".tmp"
        subprocess.run(
            ["jar", "cf", tmp_jar, "-C", root, f"{_CLASS_NAME}.class"],
            check=True,
            capture_output=True,
        )
        os.replace(tmp_jar, jar)  # atomic: concurrent builders converge
        return jar
    except (OSError, subprocess.CalledProcessError):
        return None


def ensure_jvm_codec(spark: SparkSession) -> bool:
    """Compile (cached), ship, and register the decode UDF on this
    session; True when ``image_decode_rgb`` is callable from SQL.
    Idempotent per session.  False — never an exception — when the
    deployment has no ``javac``: callers gate on the return value and
    keep the vendored Python codecs."""
    if id(spark) in _registered:
        return True
    jar = _build_jar()
    if jar is None:
        return False
    try:
        # posix separators for the SQL literal (backslashes would
        # escape); the try honors the "False — never an exception"
        # contract even for a stale-but-cache-hit jar (e.g. class
        # version mismatch after a JVM swap the version key missed)
        spark.sql(f"ADD JAR '{jar.replace(os.sep, '/')}'")
        spark.udf.registerJavaFunction(
            FUNCTION_NAME, _CLASS_NAME, BinaryType()
        )
    except Exception:
        return False
    _registered.add(id(spark))
    return True


def decode_images_jvm(
    df: DataFrame, content_col: str = "content", prefix: str = ""
) -> DataFrame:
    """Decode a binary image column entirely JVM-side: appends
    ``{prefix}width``, ``{prefix}height``, ``{prefix}rgb`` (w*h*3
    bytes) — NULL for undecodable rows, so a corrupt object in a
    100 TB manifest filters instead of failing the job.  The caller
    must have run ensure_jvm_codec(spark) first (loudly checked).

    Header split is plain column algebra (conv on the hex of the
    length-prefix bytes), so the whole operator stays inside codegen —
    no Python worker, no Arrow transfer of pixel data."""
    raw = F.expr(f"{FUNCTION_NAME}({content_col})")

    def be32(col, off: int):
        return F.conv(F.hex(F.substring(col, off, 4)), 16, 10).cast("int")

    tmp = df.withColumn("_jvm_raw", raw)
    return (
        tmp.withColumn(prefix + "width", be32(F.col("_jvm_raw"), 1))
        .withColumn(prefix + "height", be32(F.col("_jvm_raw"), 5))
        .withColumn(
            prefix + "rgb",
            F.expr("substring(_jvm_raw, 9, length(_jvm_raw) - 8)"),
        )
        .drop("_jvm_raw")
    )
