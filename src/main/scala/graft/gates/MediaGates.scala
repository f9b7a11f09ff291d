package graft
package gates

import graft.operators.Dedup
import org.apache.spark.sql.functions._

import Fixtures._

/** Media gates: image, audio and video decoding, resize, byte offsets,
  * perceptual-hash dedup and feature extraction. */
private[graft] object MediaGates {

  // the dHash pipeline replayed symbolically end to end: the twin
  // bumps one pixel's blue channel (+1 mod 256 at image (0, h-1), the
  // first STORED pixel of a bottom-up BMP), both variants' luminance
  // grids bin via the same integer floors, bits compare cell means
  // exactly (HUGEINT cross-products here == the kernel's
  // quotient/remainder method — both exact), and the pair's hamming is
  // the differing-bit count. Every planted twin must surface with
  // hamming ≤ 1 (one cell moved → at most the one comparison it
  // participates in flips).
  // Shared by q_media_dedup and q_media_index, whose outputs are equal.
  private val mediaDedupOracle = """
      WITH d AS (
        SELECT doc_id AS id, 16 + doc_id % 16 AS w, 12 + doc_id % 12 AS h
        FROM documents
      ), dx AS (
        SELECT id, w, h, unnest(range(0, w)) AS x FROM d
      ), px AS (
        SELECT id, w, h, x, unnest(range(0, h)) AS y FROM dx
      ), lum AS (
        SELECT id, (x * 9) // w AS gx, (y * 8) // h AS gy,
               299 * ((x*5 + y*17 + id*3) % 239)
             + 587 * ((x*11 + y*3 + id*5) % 251)
             + 114 * ((x*7 + y*13 + id) % 256) AS lb,
               299 * ((x*5 + y*17 + id*3) % 239)
             + 587 * ((x*11 + y*3 + id*5) % 251)
             + 114 * ((x*7 + y*13 + id
                       + CASE WHEN x = 0 AND y = h - 1 THEN 1 ELSE 0 END) % 256) AS lt
        FROM px
      ), cells AS (
        SELECT id, gy, gx, sum(lb) AS sb, sum(lt) AS st, count(*) AS c
        FROM lum GROUP BY id, gy, gx
      ), bits AS (
        SELECT a.id,
               CASE WHEN a.sb * b.c < b.sb * a.c THEN 1 ELSE 0 END AS bb,
               CASE WHEN a.st * b.c < b.st * a.c THEN 1 ELSE 0 END AS bt
        FROM cells a JOIN cells b
          ON a.id = b.id AND a.gy = b.gy AND b.gx = a.gx + 1
        WHERE a.gx < 8
      )
      SELECT id AS id_a, id + 1000000 AS id_b,
             CAST(sum(CASE WHEN bb <> bt THEN 1 ELSE 0 END) AS BIGINT) AS hamming
      FROM bits GROUP BY id ORDER BY id_a"""

  val all: Seq[Gate] = Seq(
    // Multimodal frame-sampling plan: the synthetic media table is fully
    // deterministic from media_id, so DuckDB re-derives it with
    // generate_series and the explode(sequence(0, min(duration, cap),
    // stride)) plan is oracle-checkable pure arithmetic. Null durations
    // (images) coalesce to one offset-0 row — the "at least a poster
    // frame" contract.
    // REAL byte-level multimodal decode, not plan arithmetic: build a
    // complete 24bpp BMP per document (id-derived dims and pixels), then
    // PARSE the actual bytes back — header fields from the little-endian
    // layout, channel sums from walking the padded bottom-up pixel rows.
    // The oracle recomputes every output from the format's published
    // arithmetic (stride = ((3w+3)/4)*4, file size = 54 + stride*h, the
    // pixel formulas summed symbolically) — any builder/parser offset
    // slip, stride error, or sign bug hash-mismatches. Scan-side codegen'd
    // expressions; no shuffle.
    Gate("q_media_bmp", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      val d = Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          (pmod(col("doc_id"), lit(32)) + 1).cast("int").as("w"),
          (pmod(col("doc_id"), lit(24)) + 1).cast("int").as("h"))
      d.withColumn("p", M.bmpParse(M.bmpSynth(col("id"), col("w"), col("h"))))
        .select(col("id"),
          element_at(col("p"), 1).as("width"),
          element_at(col("p"), 2).as("height"),
          element_at(col("p"), 3).as("bpp"),
          element_at(col("p"), 4).as("file_size"),
          element_at(col("p"), 5).as("actual_size"),
          element_at(col("p"), 6).as("sum_b"),
          element_at(col("p"), 7).as("sum_g"),
          element_at(col("p"), 8).as("sum_r"))
        .orderBy(col("id"))
    }, """
      WITH d AS (
        SELECT doc_id AS id, doc_id % 32 + 1 AS w, doc_id % 24 + 1 AS h
        FROM documents
      ), dx AS (
        SELECT id, w, h, unnest(range(0, w)) AS x FROM d
      ), px AS (
        SELECT id, w, h, x, unnest(range(0, h)) AS y FROM dx
      )
      SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(24 AS BIGINT) AS bpp,
             CAST(54 + ((w*3+3)//4)*4*h AS BIGINT) AS file_size,
             CAST(54 + ((w*3+3)//4)*4*h AS BIGINT) AS actual_size,
             CAST(sum((x*7 + y*13 + id) % 256) AS BIGINT) AS sum_b,
             CAST(sum((x*11 + y*3 + id*5) % 251) AS BIGINT) AS sum_g,
             CAST(sum((x*5 + y*17 + id*3) % 239) AS BIGINT) AS sum_r
      FROM px GROUP BY id, w, h ORDER BY id"""),

    // REAL COMPRESSED-codec parse, pure JDK: build an 8-bit RGB PNG per
    // document (zlib-deflated scanlines cycling ALL FIVE RFC 2083
    // filters, an ancillary tEXt chunk to force a genuine chunk walk,
    // the stream split across multiple IDAT chunks, CRC32 on every
    // chunk), then parse the bytes back — inflate, un-filter, sum the
    // channels. The pixels are the exact bmpSynth formulas, so the
    // oracle replays the sums symbolically like q_media_bmp; any slip in
    // deflate framing, chunk reassembly, or filter reconstruction breaks
    // the sums. multimodal/MediaKernels.pngSynth/pngParse.
    // Oracle: the BMP builder+parser replayed symbolically: every header field
    // from the format's published arithmetic, every channel sum from the
    // pixel formulas summed over the (x, y) grid
    // the COMPRESSED codec replayed in the decoded domain: the oracle
    // sums the pixel formulas directly — deflate framing, chunk CRCs,
    // multi-IDAT reassembly, and all five filter reconstructions must
    // round-trip EXACTLY for the Spark side to reach these sums
    Gate("q_media_png", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      val d = Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          (pmod(col("doc_id"), lit(16)) + 3).cast("int").as("w"),
          (pmod(col("doc_id"), lit(11)) + 5).cast("int").as("h"))
      d.withColumn("p", M.pngParse(M.pngSynth(col("id"), col("w"), col("h"))))
        .select(col("id"),
          element_at(col("p"), 1).as("width"),
          element_at(col("p"), 2).as("height"),
          element_at(col("p"), 3).as("bit_depth"),
          element_at(col("p"), 4).as("color_type"),
          element_at(col("p"), 5).as("sum_r"),
          element_at(col("p"), 6).as("sum_g"),
          element_at(col("p"), 7).as("sum_b"))
        .orderBy(col("id"))
    }, """
      WITH d AS (
        SELECT doc_id AS id, doc_id % 16 + 3 AS w, doc_id % 11 + 5 AS h
        FROM documents
      ), dx AS (
        SELECT id, w, h, unnest(range(0, w)) AS x FROM d
      ), px AS (
        SELECT id, w, h, x, unnest(range(0, h)) AS y FROM dx
      )
      SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(8 AS BIGINT) AS bit_depth,
             CAST(2 AS BIGINT) AS color_type,
             CAST(sum((x*5 + y*17 + id*3) % 239) AS BIGINT) AS sum_r,
             CAST(sum((x*11 + y*3 + id*5) % 251) AS BIGINT) AS sum_g,
             CAST(sum((x*7 + y*13 + id) % 256) AS BIGINT) AS sum_b
      FROM px GROUP BY id, w, h ORDER BY id"""),

    // ADAM7-INTERLACED PNG — the progressive-rendering layout a crawl
    // corpus meets beside sequential PNGs: seven independently-FILTERED
    // sub-images whose scanlines interleave positions across the frame.
    // Interlace is observable through the total sums alone: filters
    // reference within-pass neighbors, so a decoder that ignores the
    // pass structure mis-unfilters nearly every byte. Same pixel
    // formulas as q_media_png under a different dims mix.
    // multimodal/MediaKernels.pngSynthI/pngParse.
    // Oracle: Adam7 cancels out entirely under a correct decode: the pass
    // structure only permutes WHERE bytes sit in the zlib stream, the
    // reconstructed pixels are the same formulas
    Gate("q_media_png_i", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      val d = par(s, Tables.documents(s, dir))
        .select(col("doc_id").as("id"),
          (pmod(col("doc_id"), lit(18)) + 3).cast("int").as("w"),
          (pmod(col("doc_id"), lit(14)) + 3).cast("int").as("h"))
      d.withColumn("p", M.pngParse(M.pngSynthI(col("id"), col("w"), col("h"))))
        .select(col("id"),
          element_at(col("p"), 1).as("width"),
          element_at(col("p"), 2).as("height"),
          element_at(col("p"), 3).as("bit_depth"),
          element_at(col("p"), 4).as("color_type"),
          element_at(col("p"), 5).as("sum_r"),
          element_at(col("p"), 6).as("sum_g"),
          element_at(col("p"), 7).as("sum_b"))
        .orderBy(col("id"))
    }, """
      WITH d AS (
        SELECT doc_id AS id, doc_id % 18 + 3 AS w, doc_id % 14 + 3 AS h
        FROM documents
      ), dx AS (
        SELECT id, w, h, unnest(range(0, w)) AS x FROM d
      ), px AS (
        SELECT id, w, h, x, unnest(range(0, h)) AS y FROM dx
      )
      SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(8 AS BIGINT) AS bit_depth,
             CAST(2 AS BIGINT) AS color_type,
             CAST(sum((x*5 + y*17 + id*3) % 239) AS BIGINT) AS sum_r,
             CAST(sum((x*11 + y*3 + id*5) % 251) AS BIGINT) AS sum_g,
             CAST(sum((x*7 + y*13 + id) % 256) AS BIGINT) AS sum_b
      FROM px GROUP BY id, w, h ORDER BY id"""),

    // INTERLACED GIF — the 4-pass row shuffle. Total channel sums are
    // row-permutation-INVARIANT (an interlace-oblivious decoder would
    // pass them by accident), so the gate also pins the row-PARITY red
    // sums: pass-2/3/4 rows land on the wrong parity unless the decoder
    // really walks the 0,8,16…/4,12…/2,6…/odd row map.
    // multimodal/MediaKernels.gifSynthI/gifParse.
    // Oracle: the 4-pass row shuffle cancels out under a correct de-interlace;
    // the parity split of the red sum is the spatial witness
    Gate("q_media_gif_i", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      val d = Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          (pmod(col("doc_id"), lit(17)) + 2).cast("int").as("w"),
          (pmod(col("doc_id"), lit(19)) + 2).cast("int").as("h"))
      d.withColumn("p", M.gifParse(M.gifSynthI(col("id"), col("w"), col("h"))))
        .select(col("id"),
          element_at(col("p"), 1).as("width"),
          element_at(col("p"), 2).as("height"),
          element_at(col("p"), 3).as("gct_size"),
          element_at(col("p"), 4).as("min_code_size"),
          element_at(col("p"), 5).as("sum_r"),
          element_at(col("p"), 6).as("sum_g"),
          element_at(col("p"), 7).as("sum_b"),
          element_at(col("p"), 8).as("sum_r_even"),
          element_at(col("p"), 9).as("sum_r_odd"))
        .orderBy(col("id"))
    }, """
      WITH d AS (
        SELECT doc_id AS id, doc_id % 17 + 2 AS w, doc_id % 19 + 2 AS h
        FROM documents
      ), dx AS (
        SELECT id, w, h, unnest(range(0, w)) AS x FROM d
      ), px AS (
        SELECT id, w, h, x, unnest(range(0, h)) AS y FROM dx
      ), ix AS (
        SELECT id, w, h, y, (x*7 + y*13 + id) % 256 AS i FROM px
      )
      SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(256 AS BIGINT) AS gct_size,
             CAST(8 AS BIGINT) AS min_code_size,
             CAST(sum((i*5 + id*3) % 239) AS BIGINT) AS sum_r,
             CAST(sum((i*11 + id*5) % 251) AS BIGINT) AS sum_g,
             CAST(sum((i*7 + id) % 256) AS BIGINT) AS sum_b,
             CAST(sum(CASE WHEN y % 2 = 0 THEN (i*5 + id*3) % 239
                           ELSE 0 END) AS BIGINT) AS sum_r_even,
             CAST(sum(CASE WHEN y % 2 = 1 THEN (i*5 + id*3) % 239
                           ELSE 0 END) AS BIGINT) AS sum_r_odd
      FROM ix GROUP BY id, w, h ORDER BY id"""),

    // REAL DICTIONARY-CODER parse, pure JVM: build a GIF89a per document
    // (256-entry id-derived global palette, GCE + comment extension
    // blocks forcing a genuine block walk, the index plane LZW-coded
    // with variable-width 9→12-bit codes split into sub-blocks), then
    // parse the bytes back — block walk, LZW decode, palette-mapped
    // channel sums. GIF is palette-indexed, so the oracle replays the
    // index formula + palette formulas symbolically; any slip in bit
    // packing, width growth, or the KwKwK case corrupts the sums.
    // multimodal/MediaKernels.gifSynth/gifParse.
    // Oracle: the GIF builder+decoder replayed symbolically: the LZW layer
    // cancels out (decode is exact reconstruction), leaving the index
    // formula routed through the palette formulas
    Gate("q_media_gif", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      val d = Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          (pmod(col("doc_id"), lit(19)) + 2).cast("int").as("w"),
          (pmod(col("doc_id"), lit(13)) + 3).cast("int").as("h"))
      d.withColumn("p", M.gifParse(M.gifSynth(col("id"), col("w"), col("h"))))
        .select(col("id"),
          element_at(col("p"), 1).as("width"),
          element_at(col("p"), 2).as("height"),
          element_at(col("p"), 3).as("gct_size"),
          element_at(col("p"), 4).as("min_code_size"),
          element_at(col("p"), 5).as("sum_r"),
          element_at(col("p"), 6).as("sum_g"),
          element_at(col("p"), 7).as("sum_b"))
        .orderBy(col("id"))
    }, """
      WITH d AS (
        SELECT doc_id AS id, doc_id % 19 + 2 AS w, doc_id % 13 + 3 AS h
        FROM documents
      ), dx AS (
        SELECT id, w, h, unnest(range(0, w)) AS x FROM d
      ), px AS (
        SELECT id, w, h, x, unnest(range(0, h)) AS y FROM dx
      ), ix AS (
        SELECT id, w, h, (x*7 + y*13 + id) % 256 AS i FROM px
      )
      SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(256 AS BIGINT) AS gct_size,
             CAST(8 AS BIGINT) AS min_code_size,
             CAST(sum((i*5 + id*3) % 239) AS BIGINT) AS sum_r,
             CAST(sum((i*11 + id*5) % 251) AS BIGINT) AS sum_g,
             CAST(sum((i*7 + id) % 256) AS BIGINT) AS sum_b
      FROM ix GROUP BY id, w, h ORDER BY id"""),

    // REAL TRANSFORM-codec parse, pure JVM — baseline 4:2:0 JPEG, the
    // dominant crawl format AND its dominant sampling: build a T.81
    // baseline file per document (DQT/DHT segments, spec example Huffman
    // tables, SOF0 with 2×2 luma sampling, restart intervals,
    // byte-stuffed entropy data), then parse the bytes back — marker
    // walk, Huffman tables built FROM the file, multi-block MCUs,
    // zigzag, dequant, separable IDCT, coverage-counted chroma
    // upsampling, RSTn resets. Exactness is number theory, not a stub:
    // luma constant per 8×8 block and chroma constant per 16×16
    // macroblock survive the downsample AND the DC-step-8 quantization
    // bit-exactly, so the oracle replays the block formulas
    // symbolically; the AC/gradient path is spec-covered with error
    // bounds in both samplings. multimodal/MediaKernels.jpegSynth/
    // jpegParse.
    // Oracle: the JPEG builder+decoder replayed symbolically: Huffman/zigzag/
    // quant/IDCT — and the 4:2:0 downsample/upsample — cancel out under
    // the constant-block DC-step-8 contract (luma per 8×8, chroma per
    // 16×16 macroblock), leaving the plane formulas summed over the crop
    Gate("q_media_jpeg", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      val d = par(s, Tables.documents(s, dir))
        .select(col("doc_id").as("id"),
          (pmod(col("doc_id"), lit(21)) + 4).cast("int").as("w"),
          (pmod(col("doc_id"), lit(15)) + 4).cast("int").as("h"))
      d.withColumn("p", M.jpegParse(M.jpegSynth(col("id"), col("w"), col("h"))))
        .select(col("id"),
          element_at(col("p"), 1).as("width"),
          element_at(col("p"), 2).as("height"),
          element_at(col("p"), 3).as("n_components"),
          element_at(col("p"), 4).as("restart_interval"),
          element_at(col("p"), 5).as("sum_y"),
          element_at(col("p"), 6).as("sum_cb"),
          element_at(col("p"), 7).as("sum_cr"))
        .orderBy(col("id"))
    }, """
      WITH d AS (
        SELECT doc_id AS id, doc_id % 21 + 4 AS w, doc_id % 15 + 4 AS h
        FROM documents
      ), dx AS (
        SELECT id, w, h, unnest(range(0, w)) AS x FROM d
      ), px AS (
        SELECT id, w, h, x, unnest(range(0, h)) AS y FROM dx
      )
      SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(3 AS BIGINT) AS n_components,
             CAST(id % 3 + 1 AS BIGINT) AS restart_interval,
             CAST(sum(((x//8)*5 + (y//8)*17 + id*3) % 256) AS BIGINT) AS sum_y,
             CAST(sum(((x//16)*11 + (y//16)*3 + id*5) % 256) AS BIGINT) AS sum_cb,
             CAST(sum(((x//16)*7 + (y//16)*13 + id) % 256) AS BIGINT) AS sum_cr
      FROM px GROUP BY id, w, h ORDER BY id"""),

    // PROGRESSIVE JPEG (SOF2) — the largest real-crawl share the
    // baseline subset missed: per document, a multi-scan T.81 Annex G
    // file (interleaved DC-first at Al=1, per-component spectral AC
    // bands, DC + AC refinement scans, file-defined Huffman tables with
    // real EOBn run codes, RSTn inside every scan), decoded by the
    // multi-scan path — coefficients accumulate across scans, then one
    // dequant/IDCT/coverage-sum pass. Exactness: constant blocks make
    // every AC band pure EOB runs, and DC point-transform + refinement
    // is (v>>1)<<1 | (v&1) == v, so the same number theory as
    // q_media_jpeg holds and the oracle replays the plane formulas.
    // multimodal/MediaKernels.jpegSynthProg/jpegParseProgressive.
    // Oracle: the PROGRESSIVE builder+decoder replayed symbolically: the whole
    // multi-scan entropy layer (spectral bands, successive
    // approximation, EOB runs, refinement bits) cancels out under the
    // constant-block contract exactly as the baseline layer does
    Gate("q_media_jpeg_prog", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      val d = par(s, Tables.documents(s, dir))
        .select(col("doc_id").as("id"),
          (pmod(col("doc_id"), lit(23)) + 4).cast("int").as("w"),
          (pmod(col("doc_id"), lit(17)) + 4).cast("int").as("h"))
      d.withColumn("p", M.jpegParse(M.jpegSynthProg(col("id"), col("w"), col("h"))))
        .select(col("id"),
          element_at(col("p"), 1).as("width"),
          element_at(col("p"), 2).as("height"),
          element_at(col("p"), 3).as("n_components"),
          element_at(col("p"), 4).as("restart_interval"),
          element_at(col("p"), 5).as("sum_y"),
          element_at(col("p"), 6).as("sum_cb"),
          element_at(col("p"), 7).as("sum_cr"))
        .orderBy(col("id"))
    }, """
      WITH d AS (
        SELECT doc_id AS id, doc_id % 23 + 4 AS w, doc_id % 17 + 4 AS h
        FROM documents
      ), dx AS (
        SELECT id, w, h, unnest(range(0, w)) AS x FROM d
      ), px AS (
        SELECT id, w, h, x, unnest(range(0, h)) AS y FROM dx
      )
      SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(3 AS BIGINT) AS n_components,
             CAST(id % 3 + 1 AS BIGINT) AS restart_interval,
             CAST(sum(((x//8)*5 + (y//8)*17 + id*3) % 256) AS BIGINT) AS sum_y,
             CAST(sum(((x//16)*11 + (y//16)*3 + id*5) % 256) AS BIGINT) AS sum_cb,
             CAST(sum(((x//16)*7 + (y//16)*13 + id) % 256) AS BIGINT) AS sum_cr
      FROM px GROUP BY id, w, h ORDER BY id"""),

    // REAL RIFF/WAVE parse: build a PCM-16 file per document with an
    // id-derived junk LIST chunk BETWEEN fmt and data (a parser that
    // assumes fixed offsets instead of walking chunks fails), then parse
    // the bytes back and decode the int16 frames into a
    // sum-of-absolute-amplitudes. Oracle mirrors the chunk arithmetic and
    // sums the sample formula symbolically.
    // Oracle: the RIFF/WAVE builder+parser replayed symbolically: chunk
    // arithmetic for the derived header fields, the PCM sample formula
    // summed over (frame, channel)
    Gate("q_media_wav", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      val d = Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          (pmod(col("doc_id"), lit(2)) + 1).cast("int").as("ch"),
          (lit(8000) + pmod(col("doc_id"), lit(4)) * 4000).cast("int").as("rate"),
          (lit(100) + pmod(col("doc_id"), lit(156))).cast("int").as("frames"))
      d.withColumn("p",
          M.wavParse(M.wavSynth(col("id"), col("ch"), col("rate"), col("frames"))))
        .select(col("id"),
          element_at(col("p"), 1).as("channels"),
          element_at(col("p"), 2).as("sample_rate"),
          element_at(col("p"), 3).as("bits"),
          element_at(col("p"), 4).as("byte_rate"),
          element_at(col("p"), 5).as("block_align"),
          element_at(col("p"), 6).as("data_bytes"),
          element_at(col("p"), 7).as("duration_ms"),
          element_at(col("p"), 8).as("sum_abs"))
        .orderBy(col("id"))
    }, """
      WITH d AS (
        SELECT doc_id AS id, doc_id % 2 + 1 AS ch,
               8000 + (doc_id % 4) * 4000 AS rate,
               100 + doc_id % 156 AS frames
        FROM documents
      ), di AS (
        SELECT id, ch, rate, frames, unnest(range(0, frames)) AS i FROM d
      ), sm AS (
        SELECT id, ch, rate, frames, i, unnest(range(0, ch)) AS c FROM di
      )
      SELECT id,
             CAST(ch AS BIGINT) AS channels,
             CAST(rate AS BIGINT) AS sample_rate,
             CAST(16 AS BIGINT) AS bits,
             CAST(rate * ch * 2 AS BIGINT) AS byte_rate,
             CAST(ch * 2 AS BIGINT) AS block_align,
             CAST(frames * ch * 2 AS BIGINT) AS data_bytes,
             CAST((frames * ch * 2 * 1000) // (rate * ch * 2) AS BIGINT) AS duration_ms,
             CAST(sum(abs((i*31 + c*17 + id) % 4001 - 2000)) AS BIGINT) AS sum_abs
      FROM sm GROUP BY id, ch, rate, frames ORDER BY id"""),

    Gate("q_media_offsets", (s, _) => {
      val media = graft.multimodal.Multimodal.synthetic(s, 500)
      // stride/cap chosen so the synthetic durations (1000..1499 ms)
      // exercise BOTH branches: rows under 1050 ms are duration-bound
      // (7 frames), rows at/over it hit the maxFrames cap (8 frames)
      graft.multimodal.Multimodal
        .sampleOffsets(media, strideMs = 150L, maxFrames = 8)
        .select(col("media_id"), col("meta.modality").as("modality"),
          col("offset_ms"))
        .orderBy(col("media_id"), col("offset_ms"))
    }, """
      WITH base AS (
        SELECT i AS media_id,
               CASE (i % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                 ELSE 'video' END AS modality,
               CASE WHEN i % 3 <> 0 THEN i % 60000 + 1000 ELSE 0 END AS dur
        FROM generate_series(0, 499) AS t(i)
      )
      SELECT * FROM (
        SELECT media_id, modality,
               unnest(generate_series(0, least(dur, 1050), 150)) AS offset_ms
        FROM base)
      ORDER BY media_id, offset_ms"""),

    // Multimodal resize metadata rewrite: fit-to-256 preserving aspect
    // ratio, pure plan (least/greatest/ceil — IEEE op order mirrored in
    // the oracle parenthesis-for-parenthesis). Audio/video rows carry
    // null width/height and must pass through as null targets.
    Gate("q_media_resize", (s, _) => {
      val media = graft.multimodal.Multimodal.synthetic(s, 500)
      graft.multimodal.Multimodal.resizePlan(media, maxSide = 256)
        .select(col("media_id"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("target_width"), col("target_height"))
        .orderBy(col("media_id"))
    }, """
      WITH base AS (
        SELECT i AS media_id,
               CASE WHEN i % 3 = 0 THEN CAST(i % 1000 + 100 AS INTEGER) END AS width,
               CASE WHEN i % 3 = 0 THEN CAST(i % 800 + 100 AS INTEGER) END AS height
        FROM generate_series(0, 499) AS t(i)
      )
      SELECT media_id, width, height,
             CAST(ceil(width * least(CAST(1 AS DOUBLE),
               CAST(256 AS DOUBLE) / CAST(greatest(width, height) AS DOUBLE)))
               AS INTEGER) AS target_width,
             CAST(ceil(height * least(CAST(1 AS DOUBLE),
               CAST(256 AS DOUBLE) / CAST(greatest(width, height) AS DOUBLE)))
               AS INTEGER) AS target_height
      FROM base ORDER BY media_id"""),

    // PERCEPTUAL image dedup — the multimodal counterpart of SimHash
    // text dedup, composed from the real byte kernels: every document
    // becomes a 24bpp BMP plus a near-duplicate twin (+1 on one pixel's
    // blue channel, bmpPerturb), each payload decodes through the
    // codegen'd 64-bit dHash (9×8 luminance grid over the ACTUAL pixel
    // rows, gradient-sign bits), and pairs come from the SAME 4×16-bit
    // Hamming band join SimHash uses (exact recall ≤3 bits, never
    // all-pairs — the 100 TB shape). The oracle replays the WHOLE
    // pipeline symbolically: pixel formulas → integer luminance → grid
    // binning → exact mean comparisons → per-pair differing-bit count,
    // so any slip in decode, binning, or banding hash-mismatches.
    Gate("q_media_dedup", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      val d = Tables.documents(s, dir).select(col("doc_id").as("id"),
        (lit(16) + pmod(col("doc_id"), lit(16))).cast("int").as("w"),
        (lit(12) + pmod(col("doc_id"), lit(12))).cast("int").as("h"))
      val base = d.select(col("id").as("img"),
        M.bmpSynth(col("id"), col("w"), col("h")).as("payload"))
      val twin = d.select((col("id") + 1000000L).as("img"),
        M.bmpPerturb(M.bmpSynth(col("id"), col("w"), col("h"))).as("payload"))
      val hashed = par(s, base.unionByName(twin))
        .select(col("img"), M.bmpDhash(col("payload")).as("p"))
        .filter(element_at(col("p"), 1) === 1L)
        .select(col("img"), element_at(col("p"), 2).as("h64"))
      Dedup.hamming64Pairs(hashed, "h64", "img",
        maxHamming = 2, maxBucket = 1 << 20)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .orderBy(col("id_a"))
    }, mediaDedupOracle),

    // PERSISTED media signatures (store/MaterializedColumn — the general
    // shape behind AnnIndex/DedupIndex): the dHash decode pass runs once
    // per ROW LIFETIME — at build for the base images, at the CDF
    // refresh for the twins — and the near-dup probe band-joins the
    // MATERIALIZED hashes without touching a payload byte. Output is
    // exactly q_media_dedup's (same twins, bands, filter), so the same
    // symbolic dHash replay gates it; the REQUIREs pin the
    // incremental-absorption and exactly-once properties.
    Gate("q_media_index", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-mediaidx-q"))
      val d = Tables.documents(s, dir).select(col("doc_id").as("id"),
        (lit(16) + pmod(col("doc_id"), lit(16))).cast("int").as("w"),
        (lit(12) + pmod(col("doc_id"), lit(12))).cast("int").as("h"))
      val src = new graft.store.GraftTable(s, cat, "media", StructType(Seq(
        StructField("img", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = true))),
        uniqueKeys = Seq(Seq("img")))
      src.createMany(d.select(col("id").as("img"),
        M.bmpSynth(col("id"), col("w"), col("h")).as("payload")))
      val derived = Seq(
        "ok" -> element_at(M.bmpDhash(col("payload")), 1),
        "h64" -> element_at(M.bmpDhash(col("payload")), 2))
      val sig = graft.store.MaterializedColumn.build(src, "dhash", "img", derived)
      src.createMany(d.select((col("id") + 1000000L).as("img"),
        M.bmpPerturb(M.bmpSynth(col("id"), col("w"), col("h"))).as("payload")))
      require(sig.refresh().nonEmpty,
        "q_media_index: the twin window must drain")
      require(sig.refresh().isEmpty,
        "q_media_index: caught up — a second refresh drains nothing")
      require(sig.table.snapshot().count() == 2 * d.count(),
        "q_media_index: twins must be absorbed incrementally")
      val hashed = graft.store.MaterializedColumn
        .open(src, "dhash", "img", derived).frame()
        .filter(col("ok") === 1L)
        .select(col("id").as("img"), col("h64"))
      Dedup.hamming64Pairs(par(s, hashed), "h64", "img",
        maxHamming = 2, maxBucket = 1 << 20)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .orderBy(col("id_a"))
    }, mediaDedupOracle),

    // PERCEPTUAL audio dedup — the WAV member of the sketch family
    // (SimHash:text :: dHash:image :: energy-contour fingerprint:audio):
    // every document becomes a PCM-16 RIFF/WAVE clip plus a near-dup twin
    // (+1 on frame 0/channel 0's int16 sample, wavPerturb), each payload
    // decodes through the codegen'd 64-bit fingerprint (65 equal-share
    // time bins over the ACTUAL PCM frames, gradient-sign bits over exact
    // bin means), and pairs come from the SAME 4×16-bit Hamming band join
    // the image/text sketches use (exact recall ≤3 bits, never
    // all-pairs). The oracle replays the WHOLE pipeline symbolically:
    // sample formula → |amplitude| → 65-bin assignment → exact mean
    // comparisons → per-pair differing-bit count, so any slip in the
    // chunk walk, PCM decode, binning, or banding hash-mismatches.
    Gate("q_media_audio_dedup", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      val d = Tables.documents(s, dir).select(col("doc_id").as("id"),
        (lit(1) + pmod(col("doc_id"), lit(2))).cast("int").as("ch"),
        (lit(130) + pmod(col("doc_id"), lit(70))).cast("int").as("fr"))
      val base = d.select(col("id").as("clip"),
        M.wavSynth(col("id"), col("ch"), lit(8000), col("fr")).as("payload"))
      val twin = d.select((col("id") + 1000000L).as("clip"),
        M.wavPerturb(M.wavSynth(col("id"), col("ch"), lit(8000), col("fr")))
          .as("payload"))
      val hashed = par(s, base.unionByName(twin))
        .select(col("clip"), M.wavEfp(col("payload")).as("p"))
        .filter(element_at(col("p"), 1) === 1L)
        .select(col("clip"), element_at(col("p"), 2).as("h64"))
      Dedup.hamming64Pairs(hashed, "h64", "clip",
        maxHamming = 2, maxBucket = 1 << 20)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .orderBy(col("id_a"))
    }, """
      WITH d AS (
        SELECT doc_id AS id, 1 + doc_id % 2 AS ch, 130 + doc_id % 70 AS fr
        FROM documents
      ), fx AS (
        SELECT id, ch, fr, unnest(range(0, fr)) AS i FROM d
      ), fc AS (
        SELECT id, fr, i, unnest(range(0, ch)) AS c FROM fx
      ), samp AS (
        SELECT id, (i * 65) // fr AS k,
               abs((i*31 + c*17 + id) % 4001 - 2000) AS ab,
               abs((i*31 + c*17 + id) % 4001 - 2000
                   + CASE WHEN i = 0 AND c = 0 THEN 1 ELSE 0 END) AS at
        FROM fc
      ), bins AS (
        SELECT id, k, sum(ab) AS eb, sum(at) AS et, count(*) AS n
        FROM samp GROUP BY id, k
      ), bits AS (
        SELECT a.id,
               CASE WHEN a.eb * b.n < b.eb * a.n THEN 1 ELSE 0 END AS bb,
               CASE WHEN a.et * b.n < b.et * a.n THEN 1 ELSE 0 END AS bt
        FROM bins a JOIN bins b ON a.id = b.id AND b.k = a.k + 1
        WHERE a.k < 64
      )
      SELECT id AS id_a, id + 1000000 AS id_b,
             CAST(sum(CASE WHEN bb <> bt THEN 1 ELSE 0 END) AS BIGINT) AS hamming
      FROM bits GROUP BY id ORDER BY id_a"""),

    // The multimodal decode boundary as the custom WHOLE-OPERATOR plan
    // (plans/MediaFeaturesPlan: logical node + strategy + physical exec
    // over Tungsten rows): BmpPixelDecoder decodes real BMP payloads to
    // [mean_r, mean_g, mean_b] float32 features; every 13th payload is
    // NULL and must yield null features. The oracle replays the pixel
    // sums symbolically and reproduces the FLOAT32 arithmetic chain
    // (long→float casts, float multiply/divide) — DuckDB FLOAT ops are
    // IEEE float32 like the JVM's, so the gate is bit-exact, no rounding.
    // Oracle: Pixel sums replayed symbolically, then the decoder's float32 chain
    // reproduced exactly: sums and w·h are < 2^24 so the long→float
    // casts are exact and the single rounding step is the IEEE float
    // division both engines share — bit-exact, no round().
    Gate("q_media_features", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      val d = Tables.documents(s, dir).select(col("doc_id").as("media_id"),
        (lit(8) + pmod(col("doc_id"), lit(16))).cast("int").as("w"),
        (lit(6) + pmod(col("doc_id"), lit(10))).cast("int").as("h"))
      val media = d.select(col("media_id"),
        when(pmod(col("media_id"), lit(13)) === 0, lit(null).cast("binary"))
          .otherwise(M.bmpSynth(col("media_id"), col("w"), col("h")))
          .as("payload"))
      graft.multimodal.Multimodal
        .withFeatures(media, new graft.multimodal.Multimodal.BmpPixelDecoder)
        .select(col("media_id"),
          element_at(col("features"), 1).as("f_r"),
          element_at(col("features"), 2).as("f_g"),
          element_at(col("features"), 3).as("f_b"))
        .orderBy(col("media_id"))
    }, """
      WITH d AS (
        SELECT doc_id AS media_id, 8 + doc_id % 16 AS w, 6 + doc_id % 10 AS h
        FROM documents
      ), dx AS (
        SELECT media_id, w, h, unnest(range(0, w)) AS x FROM d
      ), px AS (
        SELECT media_id, w, h, x, unnest(range(0, h)) AS y FROM dx
      ), sums AS (
        SELECT media_id, w, h,
               sum((x*5 + y*17 + media_id*3) % 239) AS sr,
               sum((x*11 + y*3 + media_id*5) % 251) AS sg,
               sum((x*7 + y*13 + media_id) % 256) AS sb
        FROM px GROUP BY media_id, w, h
      )
      SELECT media_id,
             CASE WHEN media_id % 13 = 0 THEN CAST(NULL AS FLOAT)
                  ELSE CAST(CAST(sr AS FLOAT) / (CAST(255 AS FLOAT) * CAST(w*h AS FLOAT)) AS FLOAT) END AS f_r,
             CASE WHEN media_id % 13 = 0 THEN CAST(NULL AS FLOAT)
                  ELSE CAST(CAST(sg AS FLOAT) / (CAST(255 AS FLOAT) * CAST(w*h AS FLOAT)) AS FLOAT) END AS f_g,
             CASE WHEN media_id % 13 = 0 THEN CAST(NULL AS FLOAT)
                  ELSE CAST(CAST(sb AS FLOAT) / (CAST(255 AS FLOAT) * CAST(w*h AS FLOAT)) AS FLOAT) END AS f_b
      FROM sums ORDER BY media_id"""),

    // GVID raw-frame video container: build a deterministic multi-frame
    // 24bpp clip per document, parse the bytes back (header fields from
    // the little-endian layout, channel sums from walking every stored
    // frame), surface integer duration. Oracle mirrors the header
    // arithmetic and sums the per-frame pixel formulas symbolically —
    // the video sibling of q_media_bmp/q_media_wav.
    // Oracle: GVID parse: header echoes are pure arithmetic; the channel sums
    // replay the per-frame pixel formulas (seed id + 7919·f) over every
    // (f, x, y) symbolically.
    Gate("q_media_vid", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      val d = Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          (lit(6) + pmod(col("doc_id"), lit(8))).cast("int").as("w"),
          (lit(5) + pmod(col("doc_id"), lit(6))).cast("int").as("h"),
          (lit(1) + pmod(col("doc_id"), lit(5))).cast("int").as("fr"),
          ((lit(12) + pmod(col("doc_id"), lit(25))) * 1000).cast("int").as("fps"))
      d.withColumn("p", M.vidParse(M.vidSynth(
          col("id"), col("w"), col("h"), col("fr"), col("fps"))))
        .select(col("id"),
          element_at(col("p"), 1).as("width"),
          element_at(col("p"), 2).as("height"),
          element_at(col("p"), 3).as("frames"),
          element_at(col("p"), 4).as("fps_milli"),
          element_at(col("p"), 5).as("data_bytes"),
          element_at(col("p"), 6).as("duration_ms"),
          element_at(col("p"), 7).as("sum_b"),
          element_at(col("p"), 8).as("sum_g"),
          element_at(col("p"), 9).as("sum_r"))
        .orderBy(col("id"))
    }, """
      WITH d AS (
        SELECT doc_id AS id, 6 + doc_id % 8 AS w, 5 + doc_id % 6 AS h,
               1 + doc_id % 5 AS fr, (12 + doc_id % 25) * 1000 AS fps
        FROM documents
      ), df AS (
        SELECT id, w, h, fr, fps, unnest(range(0, fr)) AS f FROM d
      ), dx AS (
        SELECT id, w, h, fr, fps, f, unnest(range(0, w)) AS x FROM df
      ), px AS (
        SELECT id, w, h, fr, fps, f, x, unnest(range(0, h)) AS y FROM dx
      )
      SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(fr AS BIGINT) AS frames, CAST(fps AS BIGINT) AS fps_milli,
             CAST(w * h * 3 * fr AS BIGINT) AS data_bytes,
             CAST(fr * 1000000 // fps AS BIGINT) AS duration_ms,
             CAST(sum((x*7 + y*13 + id + 7919*f) % 256) AS BIGINT) AS sum_b,
             CAST(sum((x*11 + y*3 + (id + 7919*f)*5) % 251) AS BIGINT) AS sum_g,
             CAST(sum((x*5 + y*17 + (id + 7919*f)*3) % 239) AS BIGINT) AS sum_r
      FROM px GROUP BY id, w, h, fr, fps ORDER BY id"""),

    // PERCEPTUAL video dedup — completes the sketch family across every
    // modality (SimHash:text :: dHash:image :: energy contour:audio ::
    // majority-vote dHash:video): every document becomes a multi-frame
    // GVID clip plus a near-dup twin (+1 on frame 0's first pixel's blue
    // channel, vidPerturb), each payload decodes through the codegen'd
    // 64-bit signature (per-frame 9×8-grid gradient-sign dHash, then a
    // strict majority vote per bit across frames — robust to frame-local
    // noise the way dHash is to pixel noise), and pairs come from the
    // SAME 4×16-bit Hamming band join every other sketch uses (exact
    // recall ≤3 bits, never all-pairs — the 100 TB shape). The oracle
    // replays the WHOLE pipeline symbolically: per-frame pixel formulas →
    // integer luminance → grid binning → exact mean comparisons →
    // per-frame bits → majority vote → per-pair differing-bit count, so
    // any slip in the frame walk, binning, voting, or banding
    // hash-mismatches.
    // Oracle: Video perceptual dedup: replay the per-frame dHash (lum → 9×8 grid
    // cells → gradient-sign bits, exactly as q_media_dedup but with the
    // frame dimension and top-down rows), then the strict majority vote
    // per bit position across frames, for both the base clip and the
    // twin whose frame 0 pixel (0,0) blue channel is +1 (mod 256).
    Gate("q_media_video_dedup", (s, dir) => {
      val M = graft.multimodal.MediaExpressions
      val d = Tables.documents(s, dir).select(col("doc_id").as("id"),
        (lit(6) + pmod(col("doc_id"), lit(8))).cast("int").as("w"),
        (lit(5) + pmod(col("doc_id"), lit(6))).cast("int").as("h"),
        (lit(1) + pmod(col("doc_id"), lit(5))).cast("int").as("fr"))
      def synth = M.vidSynth(col("id"), col("w"), col("h"), col("fr"),
        lit(24000).cast("int"))
      val base = d.select(col("id").as("vid"), synth.as("payload"))
      val twin = d.select((col("id") + 1000000L).as("vid"),
        M.vidPerturb(synth).as("payload"))
      val hashed = par(s, base.unionByName(twin))
        .select(col("vid"), M.vidDhash(col("payload")).as("p"))
        .filter(element_at(col("p"), 1) === 1L)
        .select(col("vid"), element_at(col("p"), 2).as("h64"))
      Dedup.hamming64Pairs(hashed, "h64", "vid",
        maxHamming = 2, maxBucket = 1 << 20)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .orderBy(col("id_a"))
    }, """
      WITH d AS (
        SELECT doc_id AS id, 6 + doc_id % 8 AS w, 5 + doc_id % 6 AS h,
               1 + doc_id % 5 AS fr
        FROM documents
      ), df AS (
        SELECT id, w, h, fr, unnest(range(0, fr)) AS f FROM d
      ), dx AS (
        SELECT id, w, h, fr, f, unnest(range(0, w)) AS x FROM df
      ), px AS (
        SELECT id, w, h, fr, f, x, unnest(range(0, h)) AS y FROM dx
      ), lum AS (
        SELECT id, fr, f, (x * 9) // w AS gx, (y * 8) // h AS gy,
               299 * ((x*5 + y*17 + (id + 7919*f)*3) % 239)
             + 587 * ((x*11 + y*3 + (id + 7919*f)*5) % 251)
             + 114 * ((x*7 + y*13 + id + 7919*f) % 256) AS lb,
               299 * ((x*5 + y*17 + (id + 7919*f)*3) % 239)
             + 587 * ((x*11 + y*3 + (id + 7919*f)*5) % 251)
             + 114 * ((x*7 + y*13 + id + 7919*f
                       + CASE WHEN f = 0 AND x = 0 AND y = 0 THEN 1 ELSE 0 END) % 256) AS lt
        FROM px
      ), cells AS (
        SELECT id, fr, f, gy, gx, sum(lb) AS sb, sum(lt) AS st, count(*) AS c
        FROM lum GROUP BY id, fr, f, gy, gx
      ), bits AS (
        SELECT a.id, a.fr, a.f, a.gy, a.gx,
               CASE WHEN a.sb * b.c < b.sb * a.c THEN 1 ELSE 0 END AS bb,
               CASE WHEN a.st * b.c < b.st * a.c THEN 1 ELSE 0 END AS bt
        FROM cells a JOIN cells b
          ON a.id = b.id AND a.f = b.f AND a.gy = b.gy AND b.gx = a.gx + 1
        WHERE a.gx < 8
      ), maj AS (
        SELECT id, gy, gx,
               CASE WHEN 2 * sum(bb) > fr THEN 1 ELSE 0 END AS mb,
               CASE WHEN 2 * sum(bt) > fr THEN 1 ELSE 0 END AS mt
        FROM bits GROUP BY id, fr, gy, gx
      )
      SELECT id AS id_a, id + 1000000 AS id_b,
             CAST(sum(CASE WHEN mb <> mt THEN 1 ELSE 0 END) AS BIGINT) AS hamming
      FROM maj GROUP BY id ORDER BY id_a"""),
  )
}
