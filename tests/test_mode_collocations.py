"""tile_mode (spatial/tiles.py) and top_collocations
(pipeline/textstats.py) — crafted-value pins.
"""

from osmspark.pipeline.textstats import top_collocations
from osmspark.spatial import tile_mode


def test_tile_mode_argmax_and_ties(spark):
    # all points in one res-2 cell: cat 'b' ×2, 'a' ×2 → tie breaks 'a'
    rows = [(10.0, 10.0, "b"), (10.1, 10.1, "b"),
            (10.2, 10.2, "a"), (10.05, 10.05, "a"),
            # far away cell: single 'z'
            (-60.0, -120.0, "z")]
    df = spark.createDataFrame(rows, "lat double, lon double, cat string")
    out = sorted(tile_mode(df, 2, "cat").collect(),
                 key=lambda r: -r["n_points"])
    assert out[0]["top_cat"] == "a" and out[0]["top_n"] == 2
    assert out[0]["n_points"] == 4
    assert out[1]["top_cat"] == "z" and out[1]["n_points"] == 1


def test_collocations_ranking_and_hapax_filter(spark):
    # "strong tea" appears 3× amid noise; "rare pair" only once
    docs = [(1, "strong tea strong tea x y strong tea"),
            (2, "x x y y rare pair x y x y"),
            (3, "x y x y x y")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = top_collocations(df, k=5, min_count=3).collect()
    grams = [r["bigram"] for r in out]
    assert "rare pair" not in grams          # hapax suppressed
    assert "strong tea" in grams
    top = out[0]
    assert top["rank"] == 1
    # strong tea: c_xy=3, c_x(strong)=3, c_y(tea)=3, n_tok=8+10+6=24
    st = {r["bigram"]: r for r in out}["strong tea"]
    assert (st["c_xy"], st["c_x"], st["c_y"]) == (3, 3, 3)
    assert st["score"] == round(3 * 24 / 9, 9)
    assert top["bigram"] == "strong tea"     # beats the frequent 'x y'
