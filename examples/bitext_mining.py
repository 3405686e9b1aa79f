"""Margin-based bitext mining end to end (functions/bitext.py —
Artetxe & Schwenk 2019, the CCMatrix/NLLB alignment stage): split the
embeddings table into two "languages", mine mutual-best pairs by
ratio margin, and show the two kNN producers the SAME margin core
accepts:

1. the exact kernel (one side broadcast, scored by a sequential-fold
   numpy kernel — validation / small sides),
2. the IVF form (cell-keyed shuffle joins, neither side broadcast —
   the corpus-scale shape). With every cell probed it mines exactly
   the exact kernel's pairs.

No reference analog (the reference is a dataflow kernel; alignment is
LLM-pipeline surface like the ANN family it builds on).
"""

from pyspark.sql import functions as F

from malstrom_spark.functions.bitext import (
    mine_bitext_exact,
    mine_bitext_ivf,
)
from malstrom_spark.queries import table


def main(spark, sf_dir="/root/testdata/sf0.001"):
    emb = table(spark, sf_dir, "embeddings")
    side_a = emb.filter(F.col("vec_id") % 2 == 0)
    side_b = emb.filter(F.col("vec_id") % 2 == 1)

    exact = mine_bitext_exact(side_a, side_b, k=4, threshold=1.0)

    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    ivf = mine_bitext_ivf(side_a, side_b, cents, k=4, n_probe=3, threshold=1.0)
    ivf_all = mine_bitext_ivf(side_a, side_b, cents, k=4, n_probe=8, threshold=1.0)

    e = {tuple(r) for r in exact.collect()}
    i = {tuple(r) for r in ivf.collect()}
    assert {tuple(r) for r in ivf_all.collect()} == e, (
        "IVF probing every cell must mine the exact kernel's pairs"
    )
    assert len(e) > 0 and len(i) > 0
    print(f"exact pairs: {len(e)}  ivf pairs: {len(i)}")
    for r in sorted(e)[:5]:
        print(r)
    return {"exact_pairs": len(e), "ivf_pairs": len(i)}


if __name__ == "__main__":
    from malstrom_spark.session import build_session

    main(build_session(app_name="bitext-example"))
