"""File-mode source (S1): a directory of .md files runs through the
unchanged extract->index pipeline."""

from pyspark.sql import functions as F

from tika_xapian_spark.operators.extract import extract_pages
from tika_xapian_spark.operators.index import InvertedIndex
from tika_xapian_spark.operators import search as S
from tika_xapian_spark.sources.files import read_file_glob

MD = (
    "---\nauthor: Steve\ndate: 2021-06-22T12:48:16-0400\ntags:\n- tika\n"
    "title: Note {i}\n---\n\nnote body number {i} with zebra words\n"
)


def test_file_glob_to_index(spark, tmp_path):
    d = tmp_path / "notes"
    d.mkdir()
    for i in range(6):
        (d / f"note{i}.md").write_text(MD.format(i=i))
    (d / "broken.md").write_text("no frontmatter at all")

    pages = read_file_glob(spark, str(d / "*.md"))
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert pages.count() == 7

    docs = extract_pages(pages)
    ok = docs.filter(F.col("status") == "ok")
    assert ok.count() == 6
    # filename backfilled from path basename (T3)
    names = {r["filename"] for r in ok.select("filename").collect()}
    assert names == {f"note{i}.md" for i in range(6)}

    idx = InvertedIndex.build_from_extracted(ok, key="url", stem=True)
    try:
        hits = S.top_k(S.score_terms(idx, ["Zzebra"]), k=10).collect()
        assert len(hits) == 6
    finally:
        idx.unpersist()

