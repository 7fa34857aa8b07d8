"""Query implementations, grouped by SURVEY.md §2 section.

Importing this package registers every query into debias_spark.registry.

Import order IS the driver's correctness-check order (registry dicts keep
insertion order, the driver iterates queries() in that order and stopped at
exactly 50 keys in round 1).  The modules whose keys lack driver evidence
register FIRST so any per-round key cap or time cutoff lands on keys that
already have green CORRECTNESS_r01 rows, never on unproven ones.
"""

import debias_spark.queries.llm_ops36  # noqa: F401  Y5b pinned-centroid IVF, Y73 substring scrubber (round 10)
import debias_spark.queries.llm_ops37  # noqa: F401  Y74 composed IVF-PQ ANN search (round 11)
import debias_spark.queries.io_roundtrip  # noqa: F401  Z25-Z26/Z28-Z29 ORC/CSV/bucketed sinks (round 4)
import debias_spark.queries.llm_ops38  # noqa: F401  Y75 incremental IVF-PQ index maintenance (round 12)
import debias_spark.queries.llm_ops39  # noqa: F401  Y78 post-tombstone index compaction (round 13)
import debias_spark.queries.pipeline_e2e6  # noqa: F401  Z76 incremental corpus build (round 11)
import debias_spark.queries.pipeline_e2e4  # noqa: F401  Z73 state compaction, Z74 quarantine replay (round 10)
import debias_spark.queries.pipeline_e2e5  # noqa: F401  Z75 corpus-build capstone (round 10)
import debias_spark.queries.llm_ops31  # noqa: F401  Y66/Y68/Y69/Y70 drift monitor, substring spans, epoch plan, rendezvous shards (round 9)
import debias_spark.queries.llm_ops32  # noqa: F401  Y67 ANN recall autotune (round 9)
import debias_spark.queries.pipeline_e2e2  # noqa: F401  Z68 incremental near-dup refresh (round 9)
import debias_spark.queries.relational_ext42  # noqa: F401  X163/X164 k-anonymity, join-strategy autotune (round 9)
import debias_spark.queries.llm_ops33  # noqa: F401  Y71 LSH band autotune (round 9)
import debias_spark.queries.io_roundtrip9  # noqa: F401  Z70 gzip unsplittable scan (round 9)
import debias_spark.queries.relational_ext43  # noqa: F401  X165/X166/X167 subsample CI, reused-exchange proof, encoding advisor (round 9)
import debias_spark.queries.llm_ops34  # noqa: F401  Y72 bloom decontamination prefilter (round 9)
import debias_spark.queries.pipeline_e2e3  # noqa: F401  Z72 dead-letter quarantine (round 9)
import debias_spark.queries.relational_ext44  # noqa: F401  X168/X169 referential-integrity audit, EXECUTE IMMEDIATE (round 9)
import debias_spark.queries.llm_ops35  # noqa: F401  MM11 shot boundaries (round 9)
import debias_spark.queries.relational_ext12  # noqa: F401  X86-X87 skyline, interval overlap (round 4)
import debias_spark.queries.relational_ext13  # noqa: F401  X91-X92 k-core, EWMA forecast (round 4)
import debias_spark.queries.llm_ops9  # noqa: F401  Y19 block dedup (round 4)
import debias_spark.queries.streaming_ext2  # noqa: F401  Z27 foreachBatch upsert (round 4)
import debias_spark.queries.source_ext  # noqa: F401  Z30 Python DataSource (round 4)
import debias_spark.queries.llm_ops10  # noqa: F401  Y20 winnowing fingerprints (round 4)
import debias_spark.queries.llm_ops11  # noqa: F401  Y30/Y31 real media decode (round 5)
import debias_spark.queries.relational_ext14  # noqa: F401  X93-X96 unpivot/offset/hash-sample/BFS (round 5)
import debias_spark.queries.relational_ext15  # noqa: F401  X97-X98 count-min / sequence pattern (round 5)
import debias_spark.queries.llm_ops12  # noqa: F401  Y32/Y33 k-means assign+update (round 5)
import debias_spark.queries.relational_ext16  # noqa: F401  X99-X100 cube / distribution windows (round 5)
import debias_spark.queries.llm_ops13  # noqa: F401  Y34/Y35 PCA power iteration / Flesch (round 5)
import debias_spark.queries.io_roundtrip2  # noqa: F401  Z32-Z33 schema merge / permissive CSV (round 5)
import debias_spark.queries.relational_ext17  # noqa: F401  X101-X103 variant / session vars / params (round 5)
import debias_spark.queries.llm_ops14  # noqa: F401  Y36 Python UDTF (round 5)
import debias_spark.queries.relational_ext18  # noqa: F401  X104-X105 salted join / skew diagnostic (round 5)
import debias_spark.queries.relational_ext19  # noqa: F401  X106-X107 try_* arithmetic / collations (round 5)
import debias_spark.queries.relational_ext21  # noqa: F401  X111-X116 listagg/FILTER/GROUP BY ALL/percentile_disc/ACF/chi2 (round 6)
import debias_spark.queries.llm_ops15  # noqa: F401  Y37-Y40 BPE encode/semdedup/matryoshka/ntile bins (round 6)
import debias_spark.queries.relational_ext22  # noqa: F401  X117-X119 decimal/grouping sets/sliding distinct (round 6)
import debias_spark.queries.llm_ops16  # noqa: F401  Y41-Y42, MM4 PQ codebook/vocab drift/audio energy (round 6)
import debias_spark.queries.relational_ext23  # noqa: F401  X120-X122 union-by-name/IDENTIFIER/join maintenance (round 6)
import debias_spark.queries.llm_ops17  # noqa: F401  Y43-Y44 bitpack hamming / Zipf slope (round 6)
import debias_spark.queries.relational_ext24  # noqa: F401  X123-X124 bitmap distinct / timestamp arith (round 6)
import debias_spark.queries.llm_ops18  # noqa: F401  MM5 image average-hash buckets (round 6)
import debias_spark.queries.relational_ext25  # noqa: F401  X125-X127 KS / Mann-Whitney / Theil-Sen (round 6)
import debias_spark.queries.llm_ops19  # noqa: F401  Y45-Y47 naive-Bayes lang / PMI / shard balance (round 6)
import debias_spark.queries.relational_ext26  # noqa: F401  X128-X130 pivot multi-agg / SQL UDF / observe (round-7 block)
import debias_spark.queries.llm_ops20  # noqa: F401  Y48 MMR rerank (round-7 block)
import debias_spark.queries.io_roundtrip3  # noqa: F401  Z39-Z40 permissive JSON / managed table (round-7 block)
import debias_spark.queries.relational_ext27  # noqa: F401  X136-X138 SQL scripting / transpose / approx_top_k (round-7 block wave 4)
import debias_spark.queries.streaming_ext4  # noqa: F401  Z43 state store reader (round-7 block wave 4)
import debias_spark.queries.llm_ops21  # noqa: F401  Y50-Y51 KL divergence / trigram diversity (round-7 block wave 5)
import debias_spark.queries.relational_ext28  # noqa: F401  X139-X142 spearman / pipe SQL / recursive CTE / table function (round-7 block wave 5)
import debias_spark.queries.llm_ops22  # noqa: F401  MM8 image tiles / Y52 centroid drift (round-7 block wave 6)
import debias_spark.queries.io_roundtrip4  # noqa: F401  Z45 multiline CSV roundtrip (round-7 block wave 6)
import debias_spark.queries.relational_ext29  # noqa: F401  X37-X39/X49 kendall tau / streaks / poisson anomaly / OHLC (round 7)
import debias_spark.queries.relational_ext30  # noqa: F401  Z51/Z53 HLL intersection band / AQE skew split (round 7)
import debias_spark.queries.streaming_ext5  # noqa: F401  Z50 salted stream-static join (round 7)
import debias_spark.queries.io_roundtrip5  # noqa: F401  Z52 row-group stats pruning roundtrip (round 7)
import debias_spark.queries.relational_ext31  # noqa: F401  X144-X145 IGNORE NULLS windows / map HOF pack (round 7)
import debias_spark.queries.llm_ops23  # noqa: F401  Y53-Y54 mixture temperature / boilerplate chunks (round 7)
import debias_spark.queries.streaming_ext6  # noqa: F401  Z54 watermark late-drop proof (round 7)
import debias_spark.queries.temporal_udf2  # noqa: F401  T13 forward as-of with tolerance (round 7)
import debias_spark.queries.relational_ext32  # noqa: F401  X146 try_* conversion pack (round 7)
import debias_spark.queries.llm_ops24  # noqa: F401  Y55 next-fit-decreasing packing (round 7)
import debias_spark.queries.relational_ext33  # noqa: F401  X147 ABC/XYZ classification (round 7)
import debias_spark.queries.relational_ext34  # noqa: F401  X148-X151 runtime bloom / ANALYZE stats / hash pack / CACHE TABLE (round 7)
import debias_spark.queries.relational_ext35  # noqa: F401  X152/Z58 partitioning hints / shuffle advisor (round 7)
import debias_spark.queries.llm_ops25  # noqa: F401  Y56/MM9 renyi entropy / bbox stats (round 7)
import debias_spark.queries.relational_ext36  # noqa: F401  T14/X153/X154 nearest as-of / cohort LTV / neighbor jaccard (round 7)
import debias_spark.queries.llm_ops26  # noqa: F401  Y57 semantic decontamination screen (round 7)
import debias_spark.queries.relational_ext37  # noqa: F401  X155/X157 from_xml / cumulative distinct (round 7)
import debias_spark.queries.io_roundtrip6  # noqa: F401  Z59-Z60 wholetext / recursive lookup (round 7)
import debias_spark.queries.io_roundtrip7  # noqa: F401  Z61 dynamic partition overwrite (round 7)
import debias_spark.queries.relational_ext38  # noqa: F401  X158/Y58 interpurchase gaps / length trim (round 7)
import debias_spark.queries.llm_ops27  # noqa: F401  Y59/MM10/X159 cluster ARI / silence trim / schema_of_json (round 7)
import debias_spark.queries.relational_ext39  # noqa: F401  X160/T15 ANOVA F / capped sessionization (round 7)
import debias_spark.queries.relational_ext40  # noqa: F401  Z62 sliding distinct via windowed HLL union (round 7)
import debias_spark.queries.llm_ops28  # noqa: F401  Y61 keep-best dedup survivor (round 7)
import debias_spark.queries.io_roundtrip8  # noqa: F401  Z63-Z64 multiline JSON array / maxRecordsPerFile (round 7)
import debias_spark.queries.relational_ext20  # noqa: F401  X108 grid-bucketed spatial radius join (round 5)
import debias_spark.queries.streaming_ext3  # noqa: F401  Z31 value-oracled stream-stream join (round 5)
import debias_spark.queries.llm_ops8  # noqa: F401  Y18/Z23/Z24 bigram LM, URL dedup, containment (round 4)
import debias_spark.queries.llm_ops  # noqa: F401  H7-H10 + dedup/similarity/text
import debias_spark.queries.llm_ops2  # noqa: F401  Y1-Y5 quality filters + MLlib
import debias_spark.queries.streaming_ext  # noqa: F401  H14-H16
import debias_spark.queries.temporal_udf  # noqa: F401  T1-T5 as-of/sessions/UDFs
import debias_spark.queries.relational_ext3  # noqa: F401  X12-X15 third wave
import debias_spark.queries.llm_ops3  # noqa: F401  Z1-Z3 ingestion dedup/ngrams/embed stats
import debias_spark.queries.llm_ops4  # noqa: F401  Z4-Z9 skew/q3/mode/normdedup/int8/streamdedup
import debias_spark.queries.relational_ext4  # noqa: F401  X20-X27 TPC-H q4/q12/q14/q18/q19/q22, gapfill, bloom-prefilter
import debias_spark.queries.llm_ops5  # noqa: F401  Z10-Z12 unigram-LM surprisal, random projection, edit-distance dedup
import debias_spark.queries.relational_ext5  # noqa: F401  X30-X31 RFM segmentation, dwell time
import debias_spark.queries.relational_ext6  # noqa: F401  X40-X48 TPC-H completion q2/q7/q8/q9/q11/q13/q15/q16/q20
import debias_spark.queries.relational_ext7  # noqa: F401  X50-X53 MAD outliers, path transitions, market basket, quality chain
import debias_spark.queries.relational_ext8  # noqa: F401  X54-X56 basket lift, cross-doc ngram dup, dup-rate monitor
import debias_spark.queries.relational_ext9  # noqa: F401  X58-X64 SCD2, compaction, zorder, rolling DAU, pareto, regression, ztest
import debias_spark.queries.llm_ops6  # noqa: F401  X65/X66/X68 token budget, LSH stats, ngram novelty
import debias_spark.queries.relational_ext10  # noqa: F401  X67/X69+ triangles, histogram, seasonality, MERGE
import debias_spark.queries.llm_ops7  # noqa: F401  Y11/Y12 BPE fit, contamination audit
import debias_spark.queries.relational_ext11  # noqa: F401  X78-X79 weighted median, Gini
import debias_spark.queries.reference_core  # noqa: F401  A1-F3
import debias_spark.queries.annotate_queries  # noqa: F401  F1/F2 + flagship
import debias_spark.queries.relational_ext  # noqa: F401  H1-H6, H11-H13, H17
import debias_spark.queries.relational_ext2  # noqa: F401  X1-X11 second wave
import debias_spark.queries.llm_ops29  # noqa: F401  Y62 stratified split + decontamination (round 8)
import debias_spark.queries.pipeline_e2e  # noqa: F401  Z65 incremental refresh pipeline (round 8)
import debias_spark.queries.relational_ext41  # noqa: F401  Z66/X161/X162 advisor salting, CBO reorder, decayed engagement (round 8)
import debias_spark.queries.llm_ops30  # noqa: F401  Y64 importance resampling (round 8)
