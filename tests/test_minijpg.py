"""JPEG payloads at the media boundary.

The engine no longer decodes media: `extract_media_features` keys every
payload on its size and md5 after one Arrow pass.  What these tests still
pin for JPEG inputs is what survives of the old decode contract — corrupt
payloads never abort the task, every row is surfaced, and the key is a
deterministic function of the bytes (so a baseline and a progressive
encoding of the same pixels are different payloads).

The fixtures are real 8x8 grayscale JPEGs (quality 85) of the gradient
`(3*y + 5*x) % 256`: one baseline (SOF0) and one progressive (SOF2).
"""

import base64
import hashlib

from entity_resolution_pipeline_spark.operators import multimodal

BASELINE = base64.b64decode(
    "/9j/2wBDAAUDBAQEAwUEBAQFBQUGBwwIBwcHBw8LCwkMEQ8SEhEPERETFhwXExQaFRERGCEY"
    "Gh0dHx8fExciJCIeJBweHx7/wAALCAAIAAgBAREA/8QA0gAAAAAMAAAAAAAAAAAAAAAAAAEC"
    "AwQFBgcICQoLEAAAAAAAAACiAAAAAAAAAAAA8AECAwQFBgcICQoREhMUFRYXGBkaISIjJCUm"
    "JygpKjEyMzQ1Njc4OTpBQkNERUZHSElKUVJTVFVWV1hZWmFiY2RlZmdoaWpxcnN0dXZ3eHl6"
    "gYKDhIWGh4iJipGSk5SVlpeYmZqhoqOkpaanqKmqsbKztLW2t7i5usHCw8TFxsfIycrR0tPU"
    "1dbX2Nna4eLj5OXm5+jp6vHy8/T19vf4+fr/2gAIAQEAAD8AhfBggokKLAD/2Q=="
)
PROGRESSIVE = base64.b64decode(
    "/9j/2wBDAAUDBAQEAwUEBAQFBQUGBwwIBwcHBw8LCwkMEQ8SEhEPERETFhwXExQaFRERGCEY"
    "Gh0dHx8fExciJCIeJBweHx7/wgALCAAIAAgBAREA/8QA4AAAAAAMAAAAAAAAAAAAAAAAAAEC"
    "AwQFBgcICQoLEAAAAAAAAACwAAAAAAAAAAAA8BAgMEBQYHCAkKCwwNDgAQIDBAUGBwgJChES"
    "ExQVFhcYGRohIiMkJSYnKCkqMTIzNDU2Nzg5OkFCQ0RFRkdISUpRUlNUVVZXWFlaYWJjZGVm"
    "Z2hpanFyc3R1dnd4eXqBgoOEhYaHiImKkZKTlJWWl5iZmqGio6SlpqeoqaqxsrO0tba3uLm6"
    "wcLDxMXGx8jJytHS09TV1tfY2drh4uPk5ebn6Onq8fLz9PX29/j5+v/aAAgBAQAAAAF1/wD/"
    "2gAIAQEAAAAQf//aAAgBAQABBQISAiAH/9oACAEBAAY/AgD/2gAIAQEAAT8hLmAf/9oACAEB"
    "AAE/EEIAD//Z"
)


def _keys(spark, blobs, parts=1):
    df = spark.createDataFrame(
        [(i, "image", b) for i, b in enumerate(blobs)],
        "media_id long, kind string, bytes binary",
    ).repartition(parts)
    return {
        r["media_id"]: (r["n_bytes"], r["content_hash"])
        for r in multimodal.extract_media_features(df).collect()
    }


def test_determinism(spark):
    """Same bytes → same key, at any partitioning; one changed byte
    changes the hash but not the size."""
    flipped = BASELINE[:-3] + bytes([BASELINE[-3] ^ 1]) + BASELINE[-2:]
    blobs = [BASELINE, BASELINE, flipped]
    k1 = _keys(spark, blobs, parts=1)
    assert k1 == _keys(spark, blobs, parts=3)
    assert k1[0] == k1[1] == (len(BASELINE), hashlib.md5(BASELINE).hexdigest())
    assert k1[2][0] == k1[0][0] and k1[2][1] != k1[0][1]


def test_corrupt_jpeg_yields_null_not_task_abort(spark):
    """Bytes passing the FFD8 signature but corrupt inside (truncated scan,
    garbage segments) never abort the task — real corpora are full of
    truncated downloads.  There is no decode any more, so no NULL output:
    every row is surfaced with the size and md5 of the bytes it holds."""
    corrupt = [
        BASELINE[: len(BASELINE) // 2],  # chopped mid-scan
        b"\xff\xd8\xff\xff\x00\x00",     # nonsense marker stream
        b"\xff\xd8",                      # SOI only
    ]
    blobs = corrupt + [BASELINE]
    keys = _keys(spark, blobs, parts=2)
    assert len(keys) == len(blobs)  # every row surfaced, no task abort
    for i, b in enumerate(blobs):
        assert keys[i] == (len(b), hashlib.md5(b).hexdigest())


def test_progressive_through_multimodal_tower(spark):
    """A progressive (SOF2) payload goes through extract_media_features
    like any other; the key is over bytes, not pixels, so it differs from
    the baseline encoding of the same image."""
    assert BASELINE[:2] == PROGRESSIVE[:2] == b"\xff\xd8"
    assert b"\xff\xc0" in BASELINE and b"\xff\xc2" in PROGRESSIVE
    keys = _keys(spark, [BASELINE, PROGRESSIVE])
    assert keys[1] == (len(PROGRESSIVE), hashlib.md5(PROGRESSIVE).hexdigest())
    assert keys[0] != keys[1]
