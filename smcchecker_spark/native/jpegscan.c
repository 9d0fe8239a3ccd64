/* Baseline-JPEG entropy-segment decode kernel.
 *
 * Self-contained C99 (stdlib-free, no includes) compiled on demand by
 * smcchecker_spark.native with the host `cc` and loaded via ctypes.
 * It is a line-for-line translation of the Python symbol loop in
 * jpegcodec._decode_segment_py — same packed-LUT format, same error
 * conditions, same bit-position semantics (absolute bit cursor, the
 * 16-bit window is zero-padded past the segment end) — so both paths
 * are property-testable against each other and produce identical
 * coefficient stores. The Python loop remains the reference and the
 * fallback when no compiler is present.
 *
 * Determinism: pure integer arithmetic; identical output on any host.
 *
 * Error returns (mapped back to the Python path's ValueError texts):
 *   -1 bad Huffman code        -2 scan underrun
 *   -3 AC coefficient overrun  -4 DC predictor overflow
 */

typedef int int32_t_;
typedef long long i64;
typedef unsigned char u8;
typedef unsigned int u32;

/* next-16-bits MSB-first at absolute bit position p, zero-padded */
static u32 window16(const u8 *seg, i64 nbytes, i64 p)
{
    i64 i = p >> 3;
    u32 b0 = i < nbytes ? seg[i] : 0;
    u32 b1 = i + 1 < nbytes ? seg[i + 1] : 0;
    u32 b2 = i + 2 < nbytes ? seg[i + 2] : 0;
    return (((b0 << 16) | (b1 << 8) | b2) >> (8 - (p & 7))) & 0xFFFF;
}

/* Decode the MCUs [mcu_start, mcu_end) of one entropy segment into the
 * per-slot coefficient stores (natural order, 64 int32 per block).
 * DC predictors start at zero (T.81: reset per restart segment).
 *
 * Per template slot s (one scan component appearance):
 *   dc_luts[s] / ac_luts[s]               : packed decode LUTs (65536)
 *   coefs[s]                              : int32 store, nblocks*64
 *   rowstep[s], colstep[s]                : block index = my*rowstep +
 *                                           mx*colstep + offs[...]
 *   offs[offbase[s] .. offbase[s]+noffs[s]) : intra-MCU block offsets
 *
 * Returns 0, or a negative error code. */
long decode_segment(
    const u8 *seg, i64 nbytes,
    i64 mcu_start, i64 mcu_end, i64 scan_mcux,
    long nslots,
    const int **dc_luts, const int **ac_luts,
    int **coefs,
    const i64 *rowstep, const i64 *colstep,
    const i64 *offs, const i64 *offbase, const i64 *noffs,
    const u8 *zigzag)
{
    i64 nbits = nbytes * 8;
    i64 p = 0;
    long preds[16];
    long s_;
    if (nslots < 1 || nslots > 16) return -5; /* T.81 caps scans at 4 */
    for (s_ = 0; s_ < nslots; s_++) preds[s_] = 0;

    i64 mcu;
    for (mcu = mcu_start; mcu < mcu_end; mcu++) {
        i64 my = mcu / scan_mcux;
        i64 mx = mcu - my * scan_mcux;
        long ti;
        for (ti = 0; ti < nslots; ti++) {
            const int *dc_lut = dc_luts[ti];
            const int *ac_lut = ac_luts[ti];
            i64 base = my * rowstep[ti] + mx * colstep[ti];
            const i64 *off = offs + offbase[ti];
            long nb = (long)noffs[ti], bi;
            for (bi = 0; bi < nb; bi++) {
                int *blk = coefs[ti] + (base + off[bi]) * 64;
                /* ---- DC ---- */
                if (p >= nbits) return -2;
                int e = dc_lut[window16(seg, nbytes, p)];
                if (!e) return -1;
                int op = e >> 22;
                p += e & 31;
                long d;
                if (op == 1) {
                    d = ((e >> 9) & 8191) - 2048;
                } else {
                    int s = (e >> 5) & 15;
                    if (p >= nbits) return -2;
                    u32 mag = window16(seg, nbytes, p) >> (16 - s);
                    p += s;
                    d = (mag >> (s - 1)) ? (long)mag
                                         : (long)mag - (1L << s) + 1;
                }
                long pred = preds[ti] + d;
                if (pred < -32768 || pred > 32767) return -4;
                preds[ti] = pred;
                blk[0] = (int)pred;
                /* ---- AC ---- */
                int k = 1;
                while (k < 64) {
                    if (p >= nbits) return -2;
                    e = ac_lut[window16(seg, nbytes, p)];
                    if (!e) return -1;
                    op = e >> 22;
                    p += e & 31;
                    if (op == 1) { /* combined code+value */
                        k += (e >> 5) & 15;
                        if (k > 63) return -3;
                        blk[zigzag[k]] = ((e >> 9) & 8191) - 2048;
                        k += 1;
                    } else if (op == 3) { /* EOB */
                        break;
                    } else if (op == 4) { /* ZRL */
                        k += 16;
                    } else { /* fallback: magnitude beyond window */
                        int s = (e >> 5) & 15;
                        k += (e >> 9) & 15;
                        if (k > 63) return -3;
                        if (p >= nbits) return -2;
                        u32 mag = window16(seg, nbytes, p) >> (16 - s);
                        p += s;
                        blk[zigzag[k]] =
                            (mag >> (s - 1))
                                ? (int)mag
                                : (int)((long)mag - (1L << s) + 1);
                        k += 1;
                    }
                }
            }
        }
    }
    return 0;
}
