"""dedup_batch does each piece of work once, with unchanged output.

* ``shingles`` splits the text once per row (``functions.text.bind``);
  a hypothesis property pins it to a pure-Python reference.
* The MinHash signatures and band buckets of fixed strings equal the
  values the Column-builder formulation produced, for both hash
  families, schemas included (the SQL-string builders must not change a
  literal's type).
* The manifest is one aggregate by id: one row per distinct batch id.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ml_feature_store_spark.functions.text import shingles
from ml_feature_store_spark.operators.dedup import (
    minhash_band_buckets,
    minhash_signatures,
)
from ml_feature_store_spark.store import FeatureStore

KS = range(1, 6)


def ref_shingles(text: str | None, k: int) -> list[str]:
    """k-token windows over the single-space split; a text with fewer
    than k tokens is one window of all of them; null is ``[""]``."""
    if text is None:
        return [""]
    t = text.split(" ")
    if len(t) < k:
        return [" ".join(t)]
    return [" ".join(t[i : i + k]) for i in range(len(t) - k + 1)]


# joining with "" tokens makes leading, trailing and repeated spaces
texts = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.sampled_from(["a", "b", "cc", ""]), max_size=9).map(" ".join),
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(batch=texts)
@example(batch=[None, "", " ", "a", " a  b", "a b c d e f", "a  a  a", "b "])
def test_shingles_match_reference(spark, batch):
    df = spark.createDataFrame(list(enumerate(batch)), "i int, text string")
    rows = df.select(
        "i", *[shingles(F.col("text"), k).alias(f"k{k}") for k in KS]
    ).collect()
    for r in rows:
        for k in KS:
            assert r[f"k{k}"] == ref_shingles(batch[r["i"]], k), (batch[r["i"]], k)


FIXED = [
    "the quick brown fox jumps over the lazy dog",
    "a b c",
    "lorem ipsum dolor sit amet consectetur adipiscing",
    "solo",
]
# recorded from the Column-builder formulation (num_hashes=8, k=3, 4 bands)
SIGS = {
    "md5_affine": {
        0: [1493756497, 383556930, 186293328, 404631153, 662141443, 1370657550, 115726254, 176587412],
        1: [3123346853, 2068144127, 780097085, 4019861670, 2731814628, 1676611902, 388564860, 3628329445],
        2: [844001963, 1506693000, 1312238973, 60409762, 509136608, 393027522, 198573495, 265711032],
        3: [3577258956, 12909793, 2141833394, 2872451542, 706407832, 1437025980, 3565949581, 1600418],
    },
    "xxhash64": {
        0: [-9213327934255662574, -6884962307884821852, -7190716267515777504, -8507051276803415256,
            -7698925786067961863, -9190863898320566651, -6128738170765522958, -8900139452851570237],
        1: [1205666309491602074, -5401716516534621670, -3820110810217596926, 4104345984614524395,
            1326231096794492137, 1274934850210220035, -245725072024523893, 7753091903072258224],
        2: [-573873102680752249, -4384366467785121973, -2548962059032332231, -6495009202075184484,
            -7456711043304797451, -6296735118401090002, -8754213161265224523, -5044985772332486640],
        3: [3802667260312457747, -733733743766891912, 3285309512014860884, -197602216704149846,
            51100303867139134, 4453778154457652007, 2635411684459607159, -3990843665159276746],
    },
}
BUCKETS = {
    "md5_affine": {
        0: ["039c68e3da435ad1ab2cc018264b3cf3", "de4694bda1df851dce1d4e09535c95ba",
            "082e780c809d910a5e85c0977481efab", "72b8e97dfb403984c3befea10b53a814"],
        1: ["f4df0704d352dcafb4bf8027b24489d8", "a2ecdcf60e71b03b513270376d84d50b",
            "610610f0cbb1554047d9792f5958ebbc", "e7e54526ef0b0a9e66b8dcb91f20d272"],
        2: ["b53c2cf11f9b71046ff61f3823ad634e", "e62f8d2ad9c58e679dc790b6c5190276",
            "de442377f1feb08460d6cb4b2f00553e", "88af47a2c286d3adb88ba9497b545e71"],
        3: ["caa97e0783c89d0b4a2a5b764bbd2f22", "a5c8994463f4f9f22eb836fc61f867bc",
            "0a84a3d0b529e825043a01c9d7594a9e", "fe28fa91ae1182c927a7328303a2f18b"],
    },
    "xxhash64": {
        0: [377426909811596241, 189528412827510939, 6322651931141554814, -7084710007776314855],
        1: [6973292821274377132, -3402357908290874595, 3497048551493950357, 7276788019936842495],
        2: [7892545910909258054, 8571805850231115290, 1179632487960121488, -4050295538539775557],
        3: [7955192575637356864, 9075381379875540705, -752936127825802724, -3630116445176909788],
    },
}


def test_signatures_and_buckets_are_unchanged(spark):
    df = spark.createDataFrame(list(enumerate(FIXED)), "doc_id long, text string")
    for fam, bucket_type in (("md5_affine", "string"), ("xxhash64", "bigint")):
        sig = minhash_signatures(df, num_hashes=8, shingle_k=3, hash_family=fam)
        assert sig.schema.simpleString() == "struct<doc_id:bigint,minhash:array<bigint>>"
        assert not sig.schema["minhash"].nullable
        assert {r.doc_id: r.minhash for r in sig.collect()} == SIGS[fam]
        bb = minhash_band_buckets(sig, 8, 4, hash_family=fam)
        assert bb.schema.simpleString() == (
            f"struct<doc_id:bigint,band:int,bucket:{bucket_type}>"
        )
        assert [f.nullable for f in bb.schema] == [True, False, False]
        got: dict[int, list] = {}
        for r in bb.orderBy("doc_id", "band").collect():
            got.setdefault(r.doc_id, []).append(r.bucket)
        assert got == BUCKETS[fam]


def test_manifest_has_one_row_per_batch_id(spark):
    corpus = [
        " ".join(f"w{(i * 7 + j * 13) % 97}" for j in range(30)) for i in range(20)
    ]
    fs = FeatureStore(spark)
    fs.register(
        "corpus",
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(corpus)], "entity_id long, text string"
        ).withColumn("timestamp", F.lit("2024-01-01").cast("timestamp")),
    )
    fs.create_dedup_index("dd", "corpus")
    batch = spark.createDataFrame(
        [(100, corpus[0]), (100, corpus[0]), (101, "an unrelated new text here")],
        "doc_id long, text string",
    )
    rows = fs.dedup_batch("dd", batch).orderBy("doc_id").collect()
    assert [r.doc_id for r in rows] == [100, 101]
    assert rows[0].is_exact_dup == 1 and rows[0].best_j_e6 == 1_000_000
    assert tuple(rows[1])[1:] == (0, 0, 0, 0)
