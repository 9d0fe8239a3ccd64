/* Progressive-JPEG entropy-segment decode kernel (T.81 G.2).
 *
 * Self-contained C99 (stdlib-free) compiled on demand by
 * smcchecker_spark.native and loaded via ctypes — the progressive
 * sibling of jpegscan.c. Line-for-line translation of the Python scan
 * loop in jpegcodec._decode_prog_segment_py: same packed-LUT format,
 * same EOB-run/refinement semantics (libjpeg jdphuff-equivalent), same
 * underrun rule as its _SegReader (a 16-bit peek or a k-bit receive
 * that reaches more than 64 zero bits past the segment end is an
 * underrun), so both paths are property-testable against each other,
 * fill identical coefficient stores and reject the same truncations.
 * The Python loop remains the reference and the fallback.
 *
 * Scan kinds (one call decodes one restart segment of one scan):
 *   is_dc=1, ah=0 : DC first scan  (Huffman diff, interleaved allowed)
 *   is_dc=1, ah>0 : DC refinement  (one appended bit per block; no LUT)
 *   is_dc=0, ah=0 : AC first scan  (spectral band ss..se, EOB runs)
 *   is_dc=0, ah>0 : AC refinement  (correction bits)
 *
 * Error returns (mapped to the Python path's ValueError texts):
 *   -1 bad Huffman code        -2 scan underrun
 *   -3 AC coefficient overrun  -4 DC predictor overflow
 *   -6 bad refinement coefficient
 */

typedef long long i64;
typedef unsigned char u8;
typedef unsigned int u32;

static u32 window16(const u8 *seg, i64 nbytes, i64 p)
{
    i64 i = p >> 3;
    u32 b0 = i < nbytes ? seg[i] : 0;
    u32 b1 = i + 1 < nbytes ? seg[i + 1] : 0;
    u32 b2 = i + 2 < nbytes ? seg[i + 2] : 0;
    return (((b0 << 16) | (b1 << 8) | b2) >> (8 - (p & 7))) & 0xFFFF;
}

static u32 bit1(const u8 *seg, i64 nbytes, i64 p)
{
    i64 i = p >> 3;
    u32 b = i < nbytes ? seg[i] : 0;
    return (b >> (7 - (p & 7))) & 1;
}

long decode_prog_segment(
    const u8 *seg, i64 nbytes,
    i64 mcu_start, i64 mcu_end, i64 scan_mcux,
    long nslots,
    const int **luts,          /* per-slot LUT; unused for DC refine */
    int **coefs,
    const i64 *rowstep, const i64 *colstep,
    const i64 *offs, const i64 *offbase, const i64 *noffs,
    const u8 *zigzag,
    long ss, long se, long ah, long al, long is_dc)
{
    i64 nbits = nbytes * 8;
    i64 limit = nbits + 64;    /* the Python reader's pad allowance */
/* reading k more bits at p would need a 9th zero byte past the end */
#define NEED(k) if (p + (k) > limit) return -2
    i64 p = 0;
    long preds[16];
    long s_;
    i64 eobrun = 0;
    long p1 = 1L << al;
    long m1 = -(1L << al);
    if (nslots < 1 || nslots > 16) return -5;
    for (s_ = 0; s_ < nslots; s_++) preds[s_] = 0;

    i64 mcu;
    for (mcu = mcu_start; mcu < mcu_end; mcu++) {
        i64 my = mcu / scan_mcux;
        i64 mx = mcu - my * scan_mcux;
        long ti;
        for (ti = 0; ti < nslots; ti++) {
            const int *lut = luts[ti];
            i64 base = my * rowstep[ti] + mx * colstep[ti];
            const i64 *off = offs + offbase[ti];
            long nb = (long)noffs[ti], bi;
            for (bi = 0; bi < nb; bi++) {
                int *blk = coefs[ti] + (base + off[bi]) * 64;
                if (is_dc) {
                    if (ah == 0) {           /* DC first */
                        NEED(16);
                        int e = lut[window16(seg, nbytes, p)];
                        if (!e) return -1;
                        int op = e >> 22;
                        p += e & 31;
                        long d;
                        if (op == 1) {
                            d = ((e >> 9) & 8191) - 2048;
                        } else {
                            int s = (e >> 5) & 15;
                            NEED(s);
                            u32 mag = window16(seg, nbytes, p) >> (16 - s);
                            p += s;
                            d = (mag >> (s - 1)) ? (long)mag
                                                 : (long)mag - (1L << s) + 1;
                        }
                        long pred = preds[ti] + d;
                        if (pred < -32768 || pred > 32767) return -4;
                        preds[ti] = pred;
                        blk[0] = (int)(pred * p1);
                    } else {                 /* DC refinement */
                        NEED(1);
                        if (bit1(seg, nbytes, p)) blk[0] |= (int)p1;
                        p += 1;
                    }
                } else if (ah == 0) {        /* AC first */
                    if (eobrun) { eobrun--; continue; }
                    long k = ss;
                    while (k <= se) {
                        NEED(16);
                        int e = lut[window16(seg, nbytes, p)];
                        if (!e) return -1;
                        int op = e >> 22;
                        p += e & 31;
                        if (op == 1) {
                            k += (e >> 5) & 15;
                            if (k > se) return -3;
                            blk[zigzag[k]] =
                                (int)((long)(((e >> 9) & 8191) - 2048) * p1);
                            k++;
                        } else if (op == 3) { /* EOB / EOBn */
                            int r = (e >> 5) & 15;
                            u32 extra = 0;
                            if (r) {
                                NEED(r);
                                extra = window16(seg, nbytes, p) >> (16 - r);
                                p += r;
                            }
                            eobrun = (1LL << r) - 1 + extra;
                            break;
                        } else if (op == 4) { /* ZRL */
                            k += 16;
                        } else {              /* fallback magnitude */
                            int s = (e >> 5) & 15;
                            k += (e >> 9) & 15;
                            if (k > se) return -3;
                            NEED(s);
                            u32 mag = window16(seg, nbytes, p) >> (16 - s);
                            p += s;
                            long v = (mag >> (s - 1))
                                         ? (long)mag
                                         : (long)mag - (1L << s) + 1;
                            blk[zigzag[k]] = (int)(v * p1);
                            k++;
                        }
                    }
                } else {                     /* AC refinement */
                    long k = ss;
                    if (eobrun == 0) {
                        while (k <= se) {
                            NEED(16);
                            int e = lut[window16(seg, nbytes, p)];
                            if (!e) return -1;
                            int op = e >> 22;
                            p += e & 31;
                            long run, newval = 0, place = 1;
                            if (op == 3) {   /* EOB run begins */
                                int r = (e >> 5) & 15;
                                u32 extra = 0;
                                if (r) {
                                    NEED(r);
                                    extra =
                                        window16(seg, nbytes, p) >> (16 - r);
                                    p += r;
                                }
                                eobrun = (1LL << r) + extra;
                                break;
                            }
                            if (op == 4) {   /* ZRL: 16 zero-history */
                                run = 15;
                                place = 0;
                            } else if (op == 1) {
                                run = (e >> 5) & 15;
                                long v = ((e >> 9) & 8191) - 2048;
                                if (v != 1 && v != -1) return -6;
                                newval = v > 0 ? p1 : m1;
                            } else {
                                int s = (e >> 5) & 15;
                                run = (e >> 9) & 15;
                                if (s != 1) return -6;
                                NEED(1);
                                newval = bit1(seg, nbytes, p) ? p1 : m1;
                                p += 1;
                            }
                            while (k <= se) {
                                int z = zigzag[k];
                                int cur = blk[z];
                                if (cur) {
                                    NEED(1);
                                    if (bit1(seg, nbytes, p) &&
                                        !(cur & (int)p1))
                                        blk[z] =
                                            cur + (int)(cur > 0 ? p1 : m1);
                                    p += 1;
                                } else {
                                    if (run == 0) break;
                                    run--;
                                }
                                k++;
                            }
                            if (place) {
                                if (k > se) return -3;
                                blk[zigzag[k]] = (int)newval;
                            }
                            k++;
                        }
                    }
                    if (eobrun) {            /* EOB region: corrections */
                        while (k <= se) {
                            int z = zigzag[k];
                            int cur = blk[z];
                            if (cur) {
                                NEED(1);
                                if (bit1(seg, nbytes, p) && !(cur & (int)p1))
                                    blk[z] = cur + (int)(cur > 0 ? p1 : m1);
                                p += 1;
                            }
                            k++;
                        }
                        eobrun--;
                    }
                }
            }
        }
    }
    return 0;
#undef NEED
}
