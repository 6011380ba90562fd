/* The package's compiled kernels; kernels.py builds this file with cc on
 * first use and calls it through ctypes. No Python API, three exported
 * functions:
 *
 *   cityhash128         CityHash128 v1.0.2, the variant ClickHouse pins for
 *                       its compressed-frame checksums: a plain C port of
 *                       the pure-Python implementation in compress.py (same
 *                       branches, same constants).
 *   ch_strings_decode   one pass over a buffered window of a Native String
 *                       column (VarUInt length + bytes per value): offsets,
 *                       and optionally the payload bytes.
 *   ch_strings_skip     the same walk, keeping nothing.
 *
 * Both string walks stop exactly at the window's edge (never before a value
 * that ends inside it), so the caller asks its stream for more bytes only
 * when the column really continues. */

#include <stddef.h>
#include <stdint.h>
#include <string.h>

static const uint64_t k0 = 0xc3a5c85c97cb3127ULL;
static const uint64_t k1 = 0xb492b66fbe98f273ULL;
static const uint64_t k2 = 0x9ae16a3b2f90404fULL;
static const uint64_t k3 = 0xc949d7c7509e6557ULL;
static const uint64_t kmul = 0x9ddfea08eb382d69ULL;

/* little-endian loads on any host (memcpy compiles to one load) */
static uint64_t f64(const unsigned char *p) {
    uint64_t r;
    memcpy(&r, p, 8);
#if defined(__BYTE_ORDER__) && __BYTE_ORDER__ == __ORDER_BIG_ENDIAN__
    r = __builtin_bswap64(r);
#endif
    return r;
}

static uint64_t f32(const unsigned char *p) {
    uint32_t r;
    memcpy(&r, p, 4);
#if defined(__BYTE_ORDER__) && __BYTE_ORDER__ == __ORDER_BIG_ENDIAN__
    r = __builtin_bswap32(r);
#endif
    return r;
}

static uint64_t rot(uint64_t v, int shift) {
    return shift == 0 ? v : (v >> shift) | (v << (64 - shift));
}

static uint64_t shift_mix(uint64_t v) { return v ^ (v >> 47); }

static uint64_t hash_len_16(uint64_t u, uint64_t v) {
    uint64_t a = (u ^ v) * kmul;
    a ^= a >> 47;
    uint64_t b = (v ^ a) * kmul;
    b ^= b >> 47;
    return b * kmul;
}

static uint64_t hash_len_0_to_16(const unsigned char *s, size_t n) {
    if (n > 8) {
        uint64_t a = f64(s), b = f64(s + n - 8);
        return hash_len_16(a, rot(b + n, (int)n)) ^ b;
    }
    if (n >= 4) {
        uint64_t a = f32(s);
        return hash_len_16(n + (a << 3), f32(s + n - 4));
    }
    if (n > 0) {
        uint32_t y = (uint32_t)s[0] + ((uint32_t)s[n >> 1] << 8);
        uint32_t z = (uint32_t)n + ((uint32_t)s[n - 1] << 2);
        return shift_mix(y * k2 ^ z * k3) * k2;
    }
    return k2;
}

static void city_murmur(const unsigned char *s, size_t n, uint64_t a,
                        uint64_t b, uint64_t out[2]) {
    uint64_t c, d;
    if (n <= 16) {
        a = shift_mix(a * k1) * k1;
        c = b * k1 + hash_len_0_to_16(s, n);
        d = shift_mix(a + (n >= 8 ? f64(s) : c));
    } else {
        long l = (long)n - 16;
        c = hash_len_16(f64(s + n - 8) + k1, a);
        d = hash_len_16(b + n, c + f64(s + n - 16));
        a += d;
        do {
            a ^= shift_mix(f64(s) * k1) * k1;
            a *= k1;
            b ^= a;
            c ^= shift_mix(f64(s + 8) * k1) * k1;
            c *= k1;
            d ^= c;
            s += 16;
            l -= 16;
        } while (l > 0);
    }
    a = hash_len_16(a, c);
    b = hash_len_16(d, b);
    out[0] = a ^ b;
    out[1] = hash_len_16(b, a);
}

/* (a, b) = WeakHashLen32WithSeeds(s, a, b) */
static void weak32(const unsigned char *s, uint64_t *a, uint64_t *b) {
    uint64_t w = f64(s), x = f64(s + 8), y = f64(s + 16), z = f64(s + 24);
    uint64_t aa = *a + w;
    uint64_t bb = rot(*b + aa + z, 21);
    uint64_t c = aa;
    aa += x + y;
    bb += rot(aa, 44);
    *a = aa + z;
    *b = bb + c;
}

static void city_hash_128_with_seed(const unsigned char *s, size_t n,
                                    uint64_t x, uint64_t y, uint64_t out[2]) {
    if (n < 128) {
        city_murmur(s, n, x, y, out);
        return;
    }
    uint64_t z = n * k1;
    uint64_t v0 = rot(y ^ k1, 49) * k1 + f64(s);
    uint64_t v1 = rot(v0, 42) * k1 + f64(s + 8);
    uint64_t w0 = rot(y + z, 35) * k1 + x;
    uint64_t w1 = rot(x + f64(s + 88), 53) * k1;
    do { /* 128 bytes per round, as two 64-byte halves */
        for (int half = 0; half < 2; half++) {
            x = rot(x + y + v0 + f64(s + 16), 37) * k1;
            y = rot(y + v1 + f64(s + 48), 42) * k1;
            x ^= w1;
            y ^= v0;
            z = rot(z ^ w0, 33);
            uint64_t a = v1 * k1, b = x + w0;
            weak32(s, &a, &b);
            v0 = a;
            v1 = b;
            a = z + w1;
            b = y;
            weak32(s + 32, &a, &b);
            w0 = a;
            w1 = b;
            uint64_t t = z;
            z = x;
            x = t;
            s += 64;
        }
        n -= 128;
    } while (n >= 128);
    y += rot(w0, 37) * k0 + z;
    x += rot(v0 + z, 49) * k0;
    /* the tail: up to four 32-byte chunks read back from its end (the
     * last of them may reach into bytes the rounds already consumed) */
    for (size_t tail_done = 0; tail_done < n;) {
        tail_done += 32;
        y = rot(y - x, 42) * k0 + v1;
        w0 += f64(s + n - tail_done + 16);
        x = rot(x, 49) * k0 + w0;
        w0 += v0;
        weak32(s + n - tail_done, &v0, &v1);
    }
    x = hash_len_16(x, v0);
    y = hash_len_16(y, w0);
    out[0] = hash_len_16(x + v1, w1) + y;
    out[1] = hash_len_16(x + w1, y + v1);
}

void cityhash128(const unsigned char *s, size_t n, uint64_t out[2]) {
    if (n >= 16)
        city_hash_128_with_seed(s + 16, n - 16, f64(s) ^ k3, f64(s + 8), out);
    else if (n >= 8)
        city_hash_128_with_seed(s, 0, f64(s) ^ (n * k0), f64(s + n - 8) ^ k1,
                                out);
    else
        city_hash_128_with_seed(s, n, k0, k1, out);
}


/* ---------------------------------------------------------------------
 * Native String columns
 * ------------------------------------------------------------------- */

#define MAX_VARINT_BYTES 10 /* codec.MAX_VARINT_BYTES */
#define PREFIX_TOO_LONG (-1)

/* The VarUInt at s[p..len): its byte count, with the value in *v; 0 when
 * the window ends inside it; PREFIX_TOO_LONG when its 10th byte still
 * continues. A value past 64 bits saturates to UINT64_MAX, a length no
 * window holds. */
static int read_prefix(const unsigned char *s, size_t len, size_t p,
                       uint64_t *v) {
    uint64_t r = 0;
    for (int k = 0; k < MAX_VARINT_BYTES; k++) {
        if (p + k >= len)
            return 0;
        unsigned b = s[p + k];
        if (k == MAX_VARINT_BYTES - 1 && (b & 0x7f) > 1)
            r = UINT64_MAX;
        else
            r |= (uint64_t)(b & 0x7f) << (7 * k);
        if (!(b & 0x80)) {
            *v = r;
            return k + 1;
        }
    }
    return PREFIX_TOO_LONG;
}

/* Decode up to `rows` values from src[0..len). offsets[k + 1] becomes
 * offsets[k] plus the k-th value's length (the caller sets offsets[0]);
 * when dst is not NULL the payloads are also copied to dst back to back,
 * never past dst_cap bytes. Stops before the first value that does not
 * end inside src (or fit in dst). Returns the values decoded and sets
 * *used to the bytes they span, or returns PREFIX_TOO_LONG with *used at
 * that prefix. */
int64_t ch_strings_decode(const unsigned char *src, size_t len, int64_t rows,
                          int64_t *offsets, unsigned char *dst,
                          size_t dst_cap, size_t *used) {
    size_t p = 0, d = 0;
    int64_t i = 0, off = offsets[0];
    for (; i < rows; i++) {
        uint64_t n;
        int w;
        if (p < len && src[p] < 0x80) {
            n = src[p];
            w = 1;
        } else {
            w = read_prefix(src, len, p, &n);
            if (w == PREFIX_TOO_LONG) {
                *used = p;
                return PREFIX_TOO_LONG;
            }
            if (w == 0)
                break;
        }
        if (n > len - p - (size_t)w)
            break;
        if (dst) {
            if (n > dst_cap - d)
                break;
            memcpy(dst + d, src + p + w, n);
            d += n;
        }
        p += (size_t)w + n;
        off += (int64_t)n;
        offsets[i + 1] = off;
    }
    *used = p;
    return i;
}

/* ch_strings_decode without outputs: the values skipped and *used. */
int64_t ch_strings_skip(const unsigned char *src, size_t len, int64_t rows,
                        size_t *used) {
    size_t p = 0;
    int64_t i = 0;
    for (; i < rows; i++) {
        uint64_t n;
        int w = read_prefix(src, len, p, &n);
        if (w == PREFIX_TOO_LONG) {
            *used = p;
            return PREFIX_TOO_LONG;
        }
        if (w == 0 || n > len - p - (size_t)w)
            break;
        p += (size_t)w + n;
    }
    *used = p;
    return i;
}
